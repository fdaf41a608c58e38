package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.EventFunctions._
import graft.functions.Exact.{sumU, u2}
import graft.functions.TextFunctions

/** Dataset-level operations mirroring the reference's harness layer:
  * the dataset checksum gating cached heuristic results (reference:
  * dataset/utils.py:65-68 `dataset_checksum` via dirhash, validated in
  * dataset/dataset.py:24-49), and the all-heuristics profile that
  * heuristic_worker.py computes with one full corpus pass PER
  * heuristic — here both are single-shuffle Spark aggregations.
  */
object DatasetOps extends QueryModule {

  // q55: order-independent content checksum of the documents table.
  // The reference hashes the .gz files' bytes (layout-dependent);
  // the distributed analog hashes CONTENT: one md5 per canonical row
  // string, folded with bit_xor — commutative, so partitioning and
  // row order can't change the result, and any single-field change
  // flips it. One scan, one 1-row aggregate, no shuffle of data rows.
  private def q55(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", expr(
        "CAST(conv(substr(md5(concat_ws('|', CAST(doc_id AS STRING), text, lang, source, CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("checksum"))

  private val q55Sql =
    """SELECT COUNT(*) AS n_rows,
      |  bit_xor(CAST(('0x' || substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), text, lang, source, CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT)) AS checksum
      |FROM documents""".stripMargin

  // q56: the whole per-instance heuristic profile in ONE aggregation —
  // event/message/command counts, participant/actor cardinalities,
  // ratio and average-length — where the reference harness
  // (heuristic_worker.py) re-reads the raw corpus once per heuristic.
  // At 100 TB this is the difference between 1 scan and |heuristics|
  // scans. Shape: TWO-LEVEL aggregation, (instance,user) then
  // instance. The single-level form needs two different
  // countDistincts, which Spark plans as an Expand tripling every
  // event row before the first shuffle; here the distinct-user
  // counting collapses to plain counts of the (bounded, tiny)
  // per-user level — no Expand, map-side partials on both levels,
  // measured ~1.7x faster at sf1. user_id is non-null in this schema,
  // so count(*) per instance == countDistinct(user_id).
  private def profile(s: SparkSession, dir: String): DataFrame =
    norm(Tables.events(s, dir))
      .groupBy(col("instance_id"), col("user_id"))
      .agg(
        count(lit(1)).as("_ne_u"),
        count(when(isMsg, lit(1))).as("_nm_u"),
        count(when(isCmd, lit(1))).as("_nc_u"),
        sum(when(isMsg, u2(col("value")))).as("_len_u"))
      .groupBy(col("instance_id"))
      .agg(
        sum(col("_ne_u")).as("n_events"),
        sum(col("_nm_u")).as("n_messages"),
        sum(col("_nc_u")).as("n_commands"),
        count(lit(1)).as("n_participants"),
        count(when(col("_nm_u") + col("_nc_u") > 0, lit(1))).as("n_actors"),
        sumU(col("_len_u"), 2).as("_sum_msg_len"))
      .withColumn("msg_cmd_ratio",
        col("n_messages") / when(col("n_commands") === 0, lit(null)).otherwise(col("n_commands")))
      .withColumn("avg_msg_len",
        col("_sum_msg_len") / when(col("n_messages") === 0, lit(null)).otherwise(col("n_messages")))
      .drop("_sum_msg_len")

  private def q56(s: SparkSession, dir: String): DataFrame =
    profile(s, dir).orderBy(col("instance_id"))

  private val q56Sql =
    s"""WITH $NormSql
       |SELECT instance_id,
       |  COUNT(*) AS n_events,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_messages,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_commands,
       |  COUNT(DISTINCT user_id) AS n_participants,
       |  COUNT(DISTINCT CASE WHEN event_type IN ('click','view','purchase') THEN user_id END) AS n_actors,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view'))
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS msg_cmd_ratio,
       |  CAST(SUM(CASE WHEN event_type IN ('click','view') THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type IN ('click','view')), 0) AS avg_msg_len
       |FROM ev GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // q57: label merge — the reference's regression surface joins the
  // human-annotated label CSV (instance_id, label) INNER onto the
  // per-instance heuristic feature table (reference: merge_labels.py:22-29
  // loads the CSV; regression/load_data.py:19 does
  // features.join(labels, how="inner", on="instance_id")). The label
  // table here is the CSV's stand-in: a deterministic ~30% "annotated"
  // sample of instances via the same salted-md5 bucket primitive as the
  // train/test split, labeled pos/neg. Scale shape: the label set's
  // key universe (DISTINCT instance_id over events) is EXACTLY the
  // profile's group-by keys, so the whole CSV stand-in collapses to a
  // derived column + filter ON the profile — the oracle keeps the
  // reference's scan→distinct→join shape while Spark runs one scan,
  // one shuffle, zero joins. (A real external CSV would instead
  // broadcast-join onto the profile.)
  private def labeled(s: SparkSession, dir: String): DataFrame =
    profile(s, dir)
      .withColumn("bucket", TextFunctions.hashBucket(col("instance_id"), "label", 10))
      .filter(col("bucket") < 3)
      .withColumn("label", when(col("bucket") % 2 === 0, "pos").otherwise("neg"))
      .drop("bucket")

  private def q57(s: SparkSession, dir: String): DataFrame =
    labeled(s, dir).orderBy(col("instance_id"))

  private val q57Sql =
    s"""WITH $NormSql,
       |prof AS (SELECT instance_id,
       |  COUNT(*) AS n_events,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_messages,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_commands,
       |  COUNT(DISTINCT user_id) AS n_participants,
       |  COUNT(DISTINCT CASE WHEN event_type IN ('click','view','purchase') THEN user_id END) AS n_actors,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view'))
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS msg_cmd_ratio,
       |  CAST(SUM(CASE WHEN event_type IN ('click','view') THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type IN ('click','view')), 0) AS avg_msg_len
       |FROM ev GROUP BY instance_id),
       |lab AS (SELECT instance_id,
       |    CASE WHEN bucket % 2 = 0 THEN 'pos' ELSE 'neg' END AS label
       |  FROM (SELECT DISTINCT instance_id,
       |          CAST(('0x' || substr(md5('label' || CAST(instance_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10 AS bucket
       |        FROM ev)
       |  WHERE bucket < 3)
       |SELECT prof.*, lab.label
       |FROM prof JOIN lab USING (instance_id)
       |ORDER BY instance_id""".stripMargin

  // q58: the regression stage's TRAINING TABLE — the deterministic
  // half of the reference's regression head (regression/log_reg.py:
  // 35-48 builds exactly this before calling sklearn: feature matrix
  // with NaNs imputed, y from the label, class_weight='balanced'
  // per-row weights). Everything up to the LBFGS iterations is
  // SQL-expressible, so THIS is the oracle surface; the iterative fit
  // itself (log_reg.py:49-60) runs on this same table via
  // RegressionHead.fit and is gated by RegressionHeadSpec
  // (deterministic coefficients, planted-boundary accuracy >90%,
  // balanced-weight recall under class skew).
  private def q58(s: SparkSession, dir: String): DataFrame =
    graft.operators.RegressionHead
      .designMatrix(labeled(s, dir), graft.operators.RegressionHead.ProfileFeatures)
      .orderBy(col("instance_id"))

  private val q58Sql =
    s"""WITH $NormSql,
       |prof AS (SELECT instance_id,
       |  COUNT(*) AS n_events,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_messages,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_commands,
       |  COUNT(DISTINCT user_id) AS n_participants,
       |  COUNT(DISTINCT CASE WHEN event_type IN ('click','view','purchase') THEN user_id END) AS n_actors,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view'))
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS msg_cmd_ratio,
       |  CAST(SUM(CASE WHEN event_type IN ('click','view') THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type IN ('click','view')), 0) AS avg_msg_len
       |FROM ev GROUP BY instance_id),
       |lab AS (SELECT instance_id,
       |    CASE WHEN bucket % 2 = 0 THEN 'pos' ELSE 'neg' END AS label
       |  FROM (SELECT DISTINCT instance_id,
       |          CAST(('0x' || substr(md5('label' || CAST(instance_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10 AS bucket
       |        FROM ev)
       |  WHERE bucket < 3),
       |j AS (SELECT prof.*, lab.label FROM prof JOIN lab USING (instance_id))
       |SELECT instance_id, n_events, n_messages, n_commands, n_participants, n_actors,
       |  COALESCE(msg_cmd_ratio, CAST(0.0 AS DOUBLE)) AS msg_cmd_ratio,
       |  COALESCE(avg_msg_len, CAST(0.0 AS DOUBLE)) AS avg_msg_len,
       |  label,
       |  CASE WHEN label = 'pos' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
       |  CASE WHEN label = 'pos'
       |    THEN CAST(COUNT(*) OVER () AS DOUBLE)
       |      / (2.0 * CAST(SUM(CASE WHEN label = 'pos' THEN 1 ELSE 0 END) OVER () AS DOUBLE))
       |    ELSE CAST(COUNT(*) OVER () AS DOUBLE)
       |      / (2.0 * CAST(SUM(CASE WHEN label = 'neg' THEN 1 ELSE 0 END) OVER () AS DOUBLE))
       |  END AS w
       |FROM j ORDER BY instance_id""".stripMargin

  // q88: the corpus PROFILE — the dataset-card stats table (doc
  // length / whitespace-token / BPE-token distributions) a corpus
  // release publishes. EXACT discrete quantiles from the value
  // HISTOGRAM, not a sort: per metric, (value, count) aggregates
  // (the exchange is bounded by 3 × distinct values — hundreds — at
  // ANY corpus size), a cumulative window OVER THE BOUNDED HISTOGRAM
  // (not the corpus; the 3-partition window is fine because its
  // input is already aggregate-sized), and p-th quantile = min v
  // with 100·cum ≥ p·n — integer arithmetic end to end, so every
  // cell is cross-engine exact (percentile_approx and float means
  // stay off the oracle).
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(explode(array(
        struct(lit("chars").as("metric"),
          length(col("text")).cast("long").as("v")),
        struct(lit("ws_tokens").as("metric"),
          TextFunctions.wsTokenCount(col("text")).as("v")),
        struct(lit("bpe_tokens").as("metric"),
          TextFunctions.bpeTokenCount(col("text")).as("v")))).as("e"))
      .select(col("e.metric").as("metric"), col("e.v").as("v"))
    val hist = m.groupBy(col("metric"), col("v")).agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("metric")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("metric"))))
    def qt(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("v"))).as(s"p$p")
    cum.groupBy(col("metric")).agg(
      max(col("n")).as("n_docs"),
      min(col("v")).as("min_v"), qt(25), qt(50), qt(75), qt(95),
      max(col("v")).as("max_v"),
      sum(col("v") * col("c")).as("sum_v"))
      .orderBy(col("metric"))
  }

  private val q88Sql = {
    import graft.functions.TextFunctions.{BpeTokenRe, WsPlusRe}
    s"""WITH m AS (
       |  SELECT 'chars' AS metric, CAST(length(text) AS BIGINT) AS v
       |    FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'ws_tokens', CAST(len(string_split_regex(trim(text), '$WsPlusRe')) AS BIGINT)
       |    FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'bpe_tokens', CAST(len(regexp_extract_all(text, '$BpeTokenRe')) AS BIGINT)
       |    FROM documents WHERE text IS NOT NULL),
       |hist AS (SELECT metric, v, count(*) AS c FROM m GROUP BY metric, v),
       |cum AS (SELECT metric, v, c,
       |    sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY metric) AS n
       |  FROM hist)
       |SELECT metric, CAST(max(n) AS BIGINT) AS n_docs,
       |  min(v) AS min_v,
       |  min(CASE WHEN cum * 100 >= n * 25 THEN v END) AS p25,
       |  min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
       |  min(CASE WHEN cum * 100 >= n * 75 THEN v END) AS p75,
       |  min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS p95,
       |  max(v) AS max_v,
       |  CAST(sum(v * c) AS BIGINT) AS sum_v
       |FROM cum GROUP BY metric ORDER BY metric""".stripMargin
  }

  override val all: Seq[QueryDef] = Seq(
    QueryDef("q55_dataset_checksum", q55, Some(q55Sql)),
    QueryDef("q56_heuristic_profile", q56, Some(q56Sql)),
    QueryDef("q57_label_join", q57, Some(q57Sql)),
    QueryDef("q58_regression_head", q58, Some(q58Sql)),
    QueryDef("q88_corpus_profile", q88, Some(q88Sql)),
    QueryDef("q91_distinct_stats", q91, Some(q91Sql)))

  // q91: per-source exact distinct-fingerprint counts — the oracle
  // half of the sketch split (operators/Sketches: the HLL++ estimate
  // of the same table is spec-gated against these integers).
  private def q91(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.distinctBySource(Tables.documents(s, dir))
      .orderBy(col("source"))

  // lazy: declared below `all`, which reads it during object init
  private lazy val q91Sql = {
    import graft.functions.TextFunctions.WsPlusRe
    s"""SELECT source, count(*) AS n_docs,
       |  count(DISTINCT md5(lower(trim(regexp_replace(text, '$WsPlusRe', ' ', 'g'))))) AS n_distinct
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }
}
