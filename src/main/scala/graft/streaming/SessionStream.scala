package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analogs of the batch distillation: the
  * reference pipeline consumes a Kinesis Firehose stream
  * (reference: dataset/utils.py — the firehose dump IS the dataset);
  * re-expressed as readStream → stateful transform → writeStream.
  */
object SessionStream {

  /** One incoming stream event (event-time in `ts`). */
  case class StreamEvent(userId: Long, ts: Timestamp, eventType: String, value: Double)

  /** One not-yet-final session span. */
  case class SessionState(startMs: Long, endMs: Long, nEvents: Long)

  /** Per-user state: every span an in-watermark event could still
    * merge into, sorted by start. Normally one element (the open
    * session); more only while late events build spans behind it. */
  case class SessionBuf(spans: List[SessionState])

  /** A completed (watermark-finalized) session. */
  case class SessionOut(userId: Long, startMs: Long, endMs: Long, nEvents: Long)

  /** Gap-based streaming sessionization via flatMapGroupsWithState +
    * event-time timeout, EXACTLY equivalent to the batch Sessionize
    * operator on the same (in-watermark) inputs. State per user is the
    * list of open spans; an incoming event merges every span within
    * `gapMs` of it (possibly bridging two), so late events that fall
    * between existing sessions coalesce exactly as a batch sort-and-
    * scan would. A span is emitted only once the watermark passes its
    * end + gap — past that point no admissible event (ts ≥ watermark)
    * can merge into it on either side, so emitted spans are final.
    * State stays bounded: spans per user ≤ 1 + (watermark delay / gap),
    * and timeouts retire idle users entirely.
    */
  def sessionize(events: Dataset[StreamEvent], gapMs: Long,
                 watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._

    // t merges every span with [start-gap, end+gap] ∋ t into one
    // (bridging at most two); otherwise it opens a new span.
    def merged(spans: List[SessionState], t: Long): List[SessionState] = {
      val (touch, rest) = spans.partition(s => t >= s.startMs - gapMs && t <= s.endMs + gapMs)
      val m = touch.foldLeft(SessionState(t, t, 1)) { (acc, s) =>
        SessionState(math.min(acc.startMs, s.startMs),
          math.max(acc.endMs, s.endMs), acc.nEvents + s.nEvents)
      }
      (m :: rest).sortBy(_.startMs)
    }

    def update(userId: Long, batch: Iterator[StreamEvent],
               state: GroupState[SessionBuf]): Iterator[SessionOut] = {
      val wm = state.getCurrentWatermarkMs()
      var spans = state.getOption.map(_.spans).getOrElse(Nil)
      batch.toSeq.sortBy(_.ts.getTime).foreach(e => spans = merged(spans, e.ts.getTime))
      // final once end+gap ≤ wm: Spark's late filter admits only
      // ts > wm (an event at EXACTLY the watermark is dropped —
      // StreamingSpec pins this), and merging needs ts ≤ end+gap, so
      // no admissible event can touch such a span on either side
      val (done, live) = spans.partition(_.endMs + gapMs <= wm)
      if (live.isEmpty) state.remove()
      else {
        state.update(SessionBuf(live))
        // wake when the earliest live span becomes final (> wm by the
        // partition above, as setTimeoutTimestamp requires)
        state.setTimeoutTimestamp(live.map(_.endMs + gapMs).min)
      }
      done.sortBy(_.startMs)
        .map(s => SessionOut(userId, s.startMs, s.endMs, s.nEvents)).iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream interval join: each command event paired with the
    * same-user message events from the `lookbackSec` window ending at
    * the command (the reference's distill1 message→command pairing
    * run LIVE on two streams; reference: distill1_time_group.py:48-68).
    * Both sides carry watermarks and the join condition bounds event
    * time on both ends, so Spark ages buffered rows out of the join
    * state once the watermark passes their reach — state stays
    * proportional to (lookback + watermark delay) × rate, not to
    * stream history. */
  def msgCmdIntervalJoin(msgs: Dataset[StreamEvent], cmds: Dataset[StreamEvent],
                         lookbackSec: Long,
                         watermarkDelay: String = "10 seconds"): DataFrame = {
    val m = msgs.select(col("userId").as("m_user"), col("ts").as("m_ts"),
        col("value").as("m_value"))
      .withWatermark("m_ts", watermarkDelay)
    val c = cmds.select(col("userId").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", watermarkDelay)
    m.join(c, expr(
      s"m_user = c_user AND m_ts <= c_ts AND m_ts >= c_ts - INTERVAL $lookbackSec SECONDS"))
      .select(col("m_user").as("userId"), col("m_ts"), col("c_ts"),
        col("m_value"), col("c_value"))
  }

  /** Tumbling-window event counts with a watermark (the reference's
    * heuristic explorer applied continuously; SURVEY §2 #43). */
  def windowedCounts(events: Dataset[StreamEvent], window: String,
                     watermarkDelay: String = "10 seconds") =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window),
        col("eventType"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("eventType"),
        col("n"),
        col("sum_value"))
}
