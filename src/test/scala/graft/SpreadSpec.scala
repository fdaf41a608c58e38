package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

import graft.operators.Spread

/** Spread fires only on under-split inputs: one parquet row group gets
  * its doc_id-keyed repartition, the same rows written as at least
  * `defaultParallelism` files come back unchanged. */
class SpreadSpec extends SparkTestBase {
  private def byNumExchanges(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.size

  test("Spread adds one REPARTITION_BY_NUM exchange on a one-row-group parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_spread1").toString
    spark.range(1000).select(col("id").as("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
    val out = Spread(df)
    assert(byNumExchanges(out) == 1, out.queryExecution.sparkPlan.toString)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("Spread returns the plan unchanged on a multi-split parquet") {
    val cores = spark.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("graft_spreadN").toString
    spark.range(1000).select(col("id").as("doc_id"))
      .repartition(cores).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    assert(df.queryExecution.toRdd.getNumPartitions >= cores)
    val out = Spread(df)
    assert(out eq df)
    assert(byNumExchanges(out) == 0)
  }
}
