package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Bucketing, RangeJoin}

/** The scale-join operators: as-of (union+window), banded range join
  * and bucketed co-located joins — semantics checked against naive
  * formulations, plan shape checked for the properties that matter at
  * scale (no inequality joins, no exchanges on bucketed joins). */
class ScaleJoinSpec extends SparkTestBase {

  test("as-of join: at-or-before semantics with deterministic ties") {
    import spark.implicits._
    // key 1: right rows at ts 5 and 10 (two at 10 -> max id wins);
    // left at ts 4 (no match), 10 (equal-ts match), 20 (latest wins)
    val left = Seq((1L, 4L, 100L), (1L, 10L, 101L), (1L, 20L, 102L), (2L, 7L, 103L))
      .toDF("k", "ts", "id")
    val right = Seq((1L, 5L, 900L), (1L, 10L, 901L), (1L, 10L, 902L), (3L, 1L, 903L))
      .toDF("k", "ts", "id")
    val got = AsOfJoin.lastAtOrBefore(left, right, "k", "ts", "id", Seq("id", "ts"))
      .select(col("id"), col("asof_id"), col("asof_ts"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got == Set(
      (100L, None, None),               // nothing at or before ts 4
      (101L, Some(902L), Some(10L)),    // equal-ts right counts; max id tie-win
      (102L, Some(902L), Some(10L)),    // latest right at or before 20
      (103L, None, None)))              // key 2 has no right rows
  }

  test("as-of join returns the latest right ROW atomically even when it carries nulls") {
    import spark.implicits._
    // latest right row (ts=10) has a NULL v: asof_v must be NULL (that
    // row's value), never the older row's 'a' — and asof_ts/asof_v
    // must come from the SAME row
    val left = Seq((1L, 12L, 100L)).toDF("k", "ts", "id")
    val right = Seq((1L, 5L, 900L, Some("a")), (1L, 10L, 901L, None))
      .toDF("k", "ts", "id", "v")
    val r = AsOfJoin.lastAtOrBefore(left, right, "k", "ts", "id", Seq("v", "ts"))
      .select(col("asof_ts"), col("asof_v")).collect().head
    assert(r.getLong(0) == 10L && r.isNullAt(1))
  }

  test("banded range join equals the naive inequality join on real events") {
    import graft.functions.EventFunctions
    val ev = EventFunctions.norm(Tables.events(spark, sfDir))
      .select(col("instance_id"), col("ts_us"), col("event_id"))
    val width = 1800L * 1000000L
    val banded = RangeJoin.pairsWithin(ev, "instance_id", "ts_us", "event_id", width)
      .select(col("id_a"), col("id_b"))
    val a = ev.select(col("instance_id"), col("ts_us").as("ts_a"), col("event_id").as("id_a"))
    val b = ev.select(col("instance_id"), col("ts_us").as("ts_b"), col("event_id").as("id_b"))
    val naive = a.join(b, Seq("instance_id"))
      .filter(col("id_a") < col("id_b") && abs(col("ts_a") - col("ts_b")) <= width)
      .select(col("id_a"), col("id_b"))
    assert(banded.except(naive).isEmpty && naive.except(banded).isEmpty,
      "banded range join disagrees with the naive join")
    assert(banded.count() > 0, "degenerate test: no pairs at all")
  }

  test("Pin upgrades to reliable checkpoint when a checkpoint dir is configured") {
    import spark.implicits._
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    def plan(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.explainString(mode)
    val df = (1L to 100L).toDF("id")
    // the presence flag of Pin.withFlag reads true on a frame with a
    // matching row and false on one without, on either tier: the
    // reliable tier's write job runs the plan again, which must not
    // turn a false flag true
    def flag(name: String, c: org.apache.spark.sql.Column): Boolean = {
      val (pinned, f) = graft.operators.Pin.withFlag(df, name, c)
      graft.operators.Pin.release(pinned)
      f
    }
    def flags(): (Boolean, Boolean) =
      (flag("pin_flag_hit", col("id") === 50L), flag("pin_flag_miss", col("id") > 100L))
    // no checkpoint dir (this build's default): executor-local pin
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(plan(graft.operators.Pin(df)).contains("at localCheckpoint"))
    assert(flags() == (true, false))
    val dir = java.nio.file.Files.createTempDirectory("ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val pinned = graft.operators.Pin(df)
      assert(plan(pinned).contains("at checkpoint"))
      assert(!plan(pinned).contains("at localCheckpoint"))
      // materializing actually lands blocks on the (shared) filesystem
      assert(pinned.count() == 100)
      def nonEmpty(p: java.nio.file.Path): Boolean = {
        val s = java.nio.file.Files.walk(p)
        try s.anyMatch(f => java.nio.file.Files.isRegularFile(f)) finally s.close()
      }
      assert(nonEmpty(dir), "reliable checkpoint wrote nothing to the checkpoint dir")
      assert(flags() == (true, false))
    } finally {
      // Option(null) => None: restores the no-checkpoint-dir default
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("bucketed tables join with zero shuffle exchanges") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val facts = (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
    val dims = (0 to 49).map(i => (i.toLong, s"dim_$i")).toDF("k", "name")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketing.writeBucketed(facts, "b_facts", s"$tmp/facts", "k", 8)
      Bucketing.writeBucketed(dims, "b_dims", s"$tmp/dims", "k", 8)
      // force a sort-merge join so an exchange WOULD appear if the
      // bucketing were not co-locating the sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }
}
