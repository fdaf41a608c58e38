package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, hash}

/** SmallSortRule: a global sort over a materialized input no larger
  * than the coalesce floor sorts on one partition, with no
  * range-bounds sampling job; a larger input keeps its range exchange;
  * output order is the same either way. */
class SmallSortRuleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** Partitionings of the shuffle exchanges in an executed (final) plan. */
  private def exchanges(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.SmallSortRule")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q16 runs at most 3 jobs from DataFrame build through collect") {
    val q16 = SparkEntry.queries("q16_message_count")
    q16(spark, sfDir).collect()
    val jobs = jobsDuring(q16(spark, sfDir).collect())
    // the aggregate's map stage, the one-partition exchange, the result
    assert(jobs <= 3, s"q16 ran $jobs jobs")
  }

  test("a sort input above the floor keeps a multi-partition range exchange") {
    def sorted(n: Long) = spark.range(n)
      .groupBy(hash(col("id")).as("k")).agg(count("*").as("c"))
      .orderBy("k")
    val big = sorted(400000)
    big.collect()
    val ranges = exchanges(big).collect { case r: RangePartitioning => r.numPartitions }
    assert(ranges.nonEmpty && ranges.forall(_ > 1), big.queryExecution.executedPlan.toString)
    assert(!exchanges(big).contains(SinglePartition))
    val sortInput = collect(big.queryExecution.executedPlan) {
      case s: SortExec if s.global => s.child.outputPartitioning.numPartitions
    }
    assert(sortInput.nonEmpty && sortInput.forall(_ > 1), big.queryExecution.executedPlan.toString)
    // the same shape below the floor sorts on one partition
    val small = sorted(1000)
    small.collect()
    assert(exchanges(small).contains(SinglePartition), small.queryExecution.executedPlan.toString)
    assert(!exchanges(small).exists(_.isInstanceOf[RangePartitioning]))
  }

  test("distill queries and q70 return the same rows in the same order without the rule") {
    val picked = Set(11 to 24: _*) ++ (50 to 54) + 70
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => picked(n.drop(1).takeWhile(_.isDigit).toInt))
    assert(names.size == picked.size)
    var fired = 0
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val withRule = fn(spark, sfDir)
      val rows = withRule.collect().map(_.toString).toSeq
      if (exchanges(withRule).contains(SinglePartition)) fired += 1
      Verify.releaseQueryState(spark)
      val plain = withoutRule(fn(spark, sfDir).collect().map(_.toString).toSeq)
      Verify.releaseQueryState(spark)
      assert(rows == plain, s"$name: rows differ with the rule")
    }
    assert(fired > 0, "the rule fired on none of the compared queries")
  }
}
