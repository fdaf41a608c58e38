package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.EventFunctions._
import graft.functions.Exact.{sumD2, sumU, u2}
import graft.operators.{NearestEvent, Sessionize}

/** §2.B — event-stream distillation: the reference pipeline's core
  * semantics (instance grouping, message grouping, nearest-automation
  * association, author filtering, per-instance heuristics) re-expressed
  * as declarative Spark over the synthetic `events` table.
  *
  * Every query is one hash shuffle on a high-cardinality key
  * (user_id or instance_id) followed by window passes / aggregations —
  * no self-joins, no driver-side loops, linear at 100 TB.
  *
  * All window orders are (ts_us, event_id): event_id is the unique
  * tie-break so Spark and the DuckDB oracle sort identically even when
  * ns-timestamps collide after µs truncation.
  */
object EventOps extends QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame =
    norm(Tables.events(s, dir))

  // ---------------------------------------------------------------
  // q11: 30-min-gap sessionization per user (Kinesis instance-grouping
  // analog; reference: dataset/utils.py:16-50 combat_dir_iterator).
  private def q11(s: SparkSession, dir: String): DataFrame = {
    Sessionize(ev(s, dir), "user_id", "ts_us", "event_id", gapUs = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q11Sql =
    s"""WITH $NormSql,
       |b AS (SELECT user_id, ts_us, event_id,
       |  CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (SELECT user_id, ts_us,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM b)
       |SELECT user_id, session_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, COUNT(*) AS n_events
       |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------
  // q12: message grouping — attach each event to the last preceding
  // message-analog of the same (instance, user) (reference:
  // heuristics/utils.py:93 message_groups_by_id).
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("instance_id"), col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("msg_id",
        last(when(isMsg, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("msg_id").isNotNull)
      // instance_id in the grouping key is redundant (msg_id is a
      // globally unique event_id, so each group lives inside one
      // instance) but lets the existing HashPartitioning(instance_id,
      // user_id) from the window satisfy the aggregation's required
      // distribution: no second exchange.
      .groupBy(col("instance_id"), col("msg_id"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(isCmd, lit(1))).as("n_cmds"),
        count(when(isState, lit(1))).as("n_state"))
      .drop("instance_id")
      .orderBy(col("msg_id"))
  }

  private val q12Sql =
    s"""WITH $NormSql,
       |g AS (SELECT *, last_value(CASE WHEN event_type IN ('click','view') THEN event_id END IGNORE NULLS)
       |  OVER (PARTITION BY instance_id, user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS msg_id
       |  FROM ev)
       |SELECT msg_id, user_id, COUNT(*) AS n_events,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_cmds,
       |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_state
       |FROM g WHERE msg_id IS NOT NULL GROUP BY msg_id, user_id ORDER BY msg_id""".stripMargin

  // ---------------------------------------------------------------
  // Shared oracle CTEs: EventFunctions.NearestAssocSql (also used by
  // FinetuneOps.q50).

  private def assoc(s: SparkSession, dir: String): DataFrame =
    NearestEvent.assoc(ev(s, dir), "instance_id", "ts_us", "event_id",
      sourcePred = isMsg, targetPred = isCmd)

  // q13: nearest-automation association per message.
  private def q13(s: SparkSession, dir: String): DataFrame =
    assoc(s, dir)
      .select(col("event_id").as("msg_id"), col("cmd_id"), col("side"), col("delta_us"))
      .orderBy(col("msg_id"))

  private val q13Sql =
    s"""WITH $NormSql, $NearestAssocSql
       |SELECT msg_id, cmd_id, side, delta_us FROM assoc ORDER BY msg_id""".stripMargin

  // ---------------------------------------------------------------
  // q14: before/after triple assembly per command + short-message
  // filter (reference: distill1_time_group.py triple emission; the
  // <5-word filter maps to value >= 5).
  private def q14(s: SparkSession, dir: String): DataFrame =
    assoc(s, dir)
      .filter(col("value") >= 5)
      // instance_id rides along (cmd_id is globally unique) so the
      // window's HashPartitioning(instance_id) already satisfies the
      // grouping — no re-shuffle on cmd_id.
      .groupBy(col("instance_id"), col("cmd_id"))
      .agg(
        count(when(col("side") === "before", lit(1))).as("n_before"),
        count(when(col("side") === "after", lit(1))).as("n_after"),
        sumD2(when(col("side") === "before", col("value"))).as("words_before"),
        sumD2(when(col("side") === "after", col("value"))).as("words_after"))
      .drop("instance_id")
      .orderBy(col("cmd_id"))

  private val q14Sql =
    s"""WITH $NormSql, $NearestAssocSql
       |SELECT cmd_id,
       |  COUNT(*) FILTER (WHERE side='before') AS n_before,
       |  COUNT(*) FILTER (WHERE side='after') AS n_after,
       |  CAST(COALESCE(SUM(CASE WHEN side='before' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS words_before,
       |  CAST(COALESCE(SUM(CASE WHEN side='after' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS words_after
       |FROM assoc WHERE value >= 5 GROUP BY cmd_id ORDER BY cmd_id""".stripMargin

  // ---------------------------------------------------------------
  // q15: author ∪ DM filter + single-caster gate (reference:
  // distill2_authors.py:40-62 — DM set from combat_state_update.data.dm,
  // keep author/DM utterances, exactly one distinct caster).
  private def q15(s: SparkSession, dir: String): DataFrame = {
    // Two-level aggregation, NOT a (instance,user) window: the flags
    // only need per-user maxima, so level 1 collapses to one row per
    // (instance, user) — with map-side partial agg and no sort — and
    // level 2 folds users into the instance row. The window form
    // carried a full sort + two Window operators for the same answer.
    // n_casters: count of per-user rows with the command flag == the
    // old COUNT(DISTINCT user_id) FILTER (user_id already unique at
    // level 2; the isNotNull guard mirrors DISTINCT's null-skipping).
    val perUser = ev(s, dir)
      .groupBy(col("instance_id"), col("user_id"))
      .agg(
        max(when(isState, 1).otherwise(0)).as("is_dm"),
        max(when(isCmd, 1).otherwise(0)).as("is_author"),
        count(when(isMsg, lit(1))).as("u_msgs"))
    perUser
      .groupBy(col("instance_id"))
      .agg(
        sum(col("u_msgs")).as("n_msgs"),
        sum(when(col("is_dm") === 1 || col("is_author") === 1, col("u_msgs"))
          .otherwise(0L)).as("n_kept"),
        count(when(col("is_author") === 1 && col("user_id").isNotNull, lit(1))).as("n_casters"))
      .withColumn("single_caster", (col("n_casters") === 1).cast("int"))
      .orderBy(col("instance_id"))
  }

  private val q15Sql =
    s"""WITH $NormSql,
       |f AS (SELECT *,
       |  MAX(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) OVER (PARTITION BY instance_id, user_id) AS is_dm,
       |  MAX(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) OVER (PARTITION BY instance_id, user_id) AS is_author
       |  FROM ev)
       |SELECT instance_id,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_msgs,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view') AND (is_dm = 1 OR is_author = 1)) AS n_kept,
       |  COUNT(DISTINCT CASE WHEN event_type='purchase' THEN user_id END) AS n_casters,
       |  CAST(COUNT(DISTINCT CASE WHEN event_type='purchase' THEN user_id END) = 1 AS INT) AS single_caster
       |FROM f GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q16/q17: per-instance message/event counts (reference:
  // heuristics/count.py:1,5).
  private def q16(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(isMsg)
      .groupBy(col("instance_id"))
      .agg(count(lit(1)).as("n_messages"))
      .orderBy(col("instance_id"))

  private val q16Sql =
    s"""WITH $NormSql
       |SELECT instance_id, COUNT(*) AS n_messages FROM ev WHERE event_type IN ('click','view')
       |GROUP BY instance_id ORDER BY instance_id""".stripMargin

  private def q17(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("instance_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("instance_id"))

  private val q17Sql =
    s"""WITH $NormSql
       |SELECT instance_id, COUNT(*) AS n_events FROM ev GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q18: message-to-command ratio (reference: heuristics/ratio.py:1).
  private def q18(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("instance_id"))
      .agg(
        count(when(isMsg, lit(1))).as("n_msgs"),
        count(when(isCmd, lit(1))).as("n_cmds"))
      .withColumn("msg_cmd_ratio",
        col("n_msgs") / when(col("n_cmds") === 0, lit(null)).otherwise(col("n_cmds")))
      .orderBy(col("instance_id"))

  private val q18Sql =
    s"""WITH $NormSql
       |SELECT instance_id,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view')) AS n_msgs,
       |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_cmds,
       |  COUNT(*) FILTER (WHERE event_type IN ('click','view'))
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0) AS msg_cmd_ratio
       |FROM ev GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q19: average message length (reference: heuristics/ratio.py:15).
  // Decimal sum / bigint count → identical float64 both engines.
  private def q19(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(isMsg)
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_msgs"),
        sumU(u2(col("value")), 2).as("sum_len"))
      .withColumn("avg_msg_len", col("sum_len") / col("n_msgs"))
      .drop("sum_len")
      .orderBy(col("instance_id"))

  private val q19Sql =
    s"""WITH $NormSql
       |SELECT instance_id, COUNT(*) AS n_msgs,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_msg_len
       |FROM ev WHERE event_type IN ('click','view') GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q20: avg words between commands (+ excluding the tail segment)
  // (reference: heuristics/zhu.py:6,24 avg_num_words_between_commands).
  // Segments = command-delimited; a message is in the "excl-last" span
  // iff ≥1 command follows it — computed with a FOLLOWING window sum,
  // not a join.
  private def q20(s: SparkSession, dir: String): DataFrame = {
    // cmds_after = total - running-count-inclusive: two O(n) frames
    // (whole-partition + growing) instead of an O(n²)
    // unbounded-FOLLOWING frame; identical values.
    val whole = Window.partitionBy(col("instance_id"))
    val run = Window.partitionBy(col("instance_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isCmdI = when(isCmd, 1).otherwise(0)
    ev(s, dir)
      .withColumn("cmds_after", sum(isCmdI).over(whole) - sum(isCmdI).over(run))
      .groupBy(col("instance_id"))
      .agg(
        count(when(isCmd, lit(1))).as("n_cmds"),
        sumD2(when(isMsg, col("value"))).as("w_all"),
        sumD2(when(isMsg && col("cmds_after") > 0, col("value"))).as("w_before_last"))
      .withColumn("avg_words_between", col("w_all") / (col("n_cmds") + 1))
      .withColumn("avg_words_excl_last",
        col("w_before_last") / when(col("n_cmds") === 0, lit(null)).otherwise(col("n_cmds")))
      .drop("w_all", "w_before_last")
      .orderBy(col("instance_id"))
  }

  private val q20Sql =
    s"""WITH $NormSql,
       |w AS (SELECT *,
       |  SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY instance_id ORDER BY ts_us, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS cmds_after
       |  FROM ev)
       |SELECT instance_id,
       |  COUNT(*) FILTER (WHERE event_type='purchase') AS n_cmds,
       |  CAST(COALESCE(SUM(CASE WHEN event_type IN ('click','view') THEN CAST(value AS DECIMAL(12,2)) END),0) AS DOUBLE)
       |    / (COUNT(*) FILTER (WHERE event_type='purchase') + 1) AS avg_words_between,
       |  CAST(COALESCE(SUM(CASE WHEN event_type IN ('click','view') AND cmds_after > 0 THEN CAST(value AS DECIMAL(12,2)) END),0) AS DOUBLE)
       |    / NULLIF(COUNT(*) FILTER (WHERE event_type='purchase'), 0) AS avg_words_excl_last
       |FROM w GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q21: participants / actors (reference: heuristics/zhu.py:40,49).
  // Two-level (instance,user)→instance aggregation: the two different
  // countDistincts would plan as an Expand tripling every event row
  // before the first shuffle (same rewrite as q56's profile; user_id
  // is non-null so count(*) of the user level == countDistinct).
  private def q21(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("instance_id"), col("user_id"))
      .agg(count(when(isMsg || isCmd, lit(1))).as("_na_u"))
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_participants"),
        count(when(col("_na_u") > 0, lit(1))).as("n_actors"))
      .orderBy(col("instance_id"))

  private val q21Sql =
    s"""WITH $NormSql
       |SELECT instance_id, COUNT(DISTINCT user_id) AS n_participants,
       |  COUNT(DISTINCT CASE WHEN event_type IN ('click','view','purchase') THEN user_id END) AS n_actors
       |FROM ev GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q22: avg time from a command back to the latest preceding message
  // (reference: heuristics/feng.py:3 avg_time_between_message_and_command).
  // Exact int64 µs deltas; the division is the only float op.
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy(col("instance_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // signup/error rows can't influence this: only commands are
    // emitted and the ignore-nulls window skips non-messages — so the
    // filter runs BEFORE the window (pushed to the scan, ~40% less
    // shuffled/sorted). The oracle windows over unfiltered ev;
    // results are identical because dropped rows feed neither side.
    ev(s, dir).filter(isMsg || isCmd)
      .withColumn("prev_msg_ts",
        last(when(isMsg, col("ts_us")), ignoreNulls = true).over(wp))
      .filter(isCmd && col("prev_msg_ts").isNotNull)
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_cmds_with_msg"),
        sum(col("ts_us") - col("prev_msg_ts")).as("sum_delta"))
      .withColumn("avg_delta_us", col("sum_delta") / col("n_cmds_with_msg"))
      .drop("sum_delta")
      .orderBy(col("instance_id"))
  }

  private val q22Sql =
    s"""WITH $NormSql,
       |w AS (SELECT *,
       |  last_value(CASE WHEN event_type IN ('click','view') THEN ts_us END IGNORE NULLS)
       |    OVER (PARTITION BY instance_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_msg_ts
       |  FROM ev)
       |SELECT instance_id, COUNT(*) AS n_cmds_with_msg,
       |  CAST(SUM(ts_us - prev_msg_ts) AS BIGINT) / COUNT(*) AS avg_delta_us
       |FROM w WHERE event_type='purchase' AND prev_msg_ts IS NOT NULL
       |GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q23: ratio of commands with no message since the previous command
  // (reference: heuristics/feng.py:19 ratio_of_commands_without_message).
  // Row-number comparison (not raw ts) so µs-collisions order
  // identically in both engines.
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val base = Window.partitionBy(col("instance_id")).orderBy(col("ts_us"), col("event_id"))
    val wp = Window.partitionBy(col("instance_id")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val noMsg = col("prev_msg_rn").isNull ||
      (col("prev_cmd_rn").isNotNull && col("prev_msg_rn") < col("prev_cmd_rn"))
    // Prefilter as in q22: only commands are emitted and only msg/cmd
    // rows mark the window columns. rn VALUES differ from the
    // oracle's (which numbers all rows) but only their ORDER is
    // compared (prev_msg_rn < prev_cmd_rn), and dropping rows
    // preserves relative order — outputs are identical.
    ev(s, dir).filter(isMsg || isCmd)
      .withColumn("rn", row_number().over(base))
      .withColumn("prev_msg_rn", last(when(isMsg, col("rn")), ignoreNulls = true).over(wp))
      .withColumn("prev_cmd_rn", last(when(isCmd, col("rn")), ignoreNulls = true).over(wp))
      .filter(isCmd)
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_cmds"),
        count(when(noMsg, lit(1))).as("n_no_msg"))
      .withColumn("ratio_no_msg", col("n_no_msg") / col("n_cmds"))
      .orderBy(col("instance_id"))
  }

  private val q23Sql =
    s"""WITH $NormSql,
       |r AS (SELECT *, row_number() OVER (PARTITION BY instance_id ORDER BY ts_us, event_id) AS rn FROM ev),
       |w AS (SELECT *,
       |  last_value(CASE WHEN event_type IN ('click','view') THEN rn END IGNORE NULLS) OVER wp AS prev_msg_rn,
       |  last_value(CASE WHEN event_type='purchase' THEN rn END IGNORE NULLS) OVER wp AS prev_cmd_rn
       |  FROM r WINDOW wp AS (PARTITION BY instance_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT instance_id, COUNT(*) AS n_cmds,
       |  COUNT(*) FILTER (WHERE prev_msg_rn IS NULL OR (prev_cmd_rn IS NOT NULL AND prev_msg_rn < prev_cmd_rn)) AS n_no_msg,
       |  COUNT(*) FILTER (WHERE prev_msg_rn IS NULL OR (prev_cmd_rn IS NOT NULL AND prev_msg_rn < prev_cmd_rn))
       |    / COUNT(*) AS ratio_no_msg
       |FROM w WHERE event_type='purchase' GROUP BY instance_id ORDER BY instance_id""".stripMargin

  // ---------------------------------------------------------------
  // q24: turn-change count (reference: heuristics/utils.py:20
  // did_turn_change — consecutive events with different actor).
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("instance_id")).orderBy(col("ts_us"), col("event_id"))
    ev(s, dir)
      .withColumn("prev_user", lag(col("user_id"), 1).over(w))
      .groupBy(col("instance_id"))
      .agg(count(when(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"), lit(1)))
        .as("n_turn_changes"))
      .withColumn("n_turns", col("n_turn_changes") + 1)
      .orderBy(col("instance_id"))
  }

  private val q24Sql =
    s"""WITH $NormSql,
       |w AS (SELECT *, lag(user_id) OVER (PARTITION BY instance_id ORDER BY ts_us, event_id) AS prev_user FROM ev)
       |SELECT instance_id,
       |  COUNT(*) FILTER (WHERE prev_user IS NOT NULL AND prev_user <> user_id) AS n_turn_changes,
       |  COUNT(*) FILTER (WHERE prev_user IS NOT NULL AND prev_user <> user_id) + 1 AS n_turns
       |FROM w GROUP BY instance_id ORDER BY instance_id""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("q11_sessionize", q11, Some(q11Sql)),
    QueryDef("q12_message_groups", q12, Some(q12Sql)),
    QueryDef("q13_nearest_assoc", q13, Some(q13Sql)),
    QueryDef("q14_triples", q14, Some(q14Sql)),
    QueryDef("q15_author_filter", q15, Some(q15Sql)),
    QueryDef("q16_message_count", q16, Some(q16Sql)),
    QueryDef("q17_event_count", q17, Some(q17Sql)),
    QueryDef("q18_msg_cmd_ratio", q18, Some(q18Sql)),
    QueryDef("q19_avg_msg_len", q19, Some(q19Sql)),
    QueryDef("q20_words_between_cmds", q20, Some(q20Sql)),
    QueryDef("q21_participants", q21, Some(q21Sql)),
    QueryDef("q22_time_to_command", q22, Some(q22Sql)),
    QueryDef("q23_cmds_no_message", q23, Some(q23Sql)),
    QueryDef("q24_turn_changes", q24, Some(q24Sql)))
}
