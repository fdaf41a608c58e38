package graft

import org.apache.spark.sql.functions.{col, lit}

/** `Tables.load` resolves each table's schema once per session and
  * path, re-resolves a table rewritten in place, and still hands every
  * caller a fresh relation. */
class TablesSpec extends SparkTestBase {

  test("a second events load on the same session starts no Spark job") {
    // the listener does see the schema-inference job of an unhinted read
    assert(jobsDuring(spark.read.parquet(s"$sfDir/events.parquet")) >= 1)
    Tables.events(spark, sfDir)
    assert(jobsDuring(Tables.events(spark, sfDir)) == 0)
  }

  test("a table rewritten at the same path with an extra column shows the new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/region.parquet"
    spark.range(3).select(col("id").as("r_regionkey"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey"))
    assert(jobsDuring(Tables.region(spark, dir)) == 0)
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"))
      .write.mode("overwrite").parquet(path)
    val reread = Tables.region(spark, dir)
    assert(reread.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(reread.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
  }

  test("two events loads join as two relations, with the rows of two plain reads") {
    def joined(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("event_id") === b("event_id"))
        .select(a("event_id"), a("user_id"), b("event_type"))
        .orderBy("event_id").collect().map(_.toString).toSeq
    val plain = joined(spark.read.parquet(s"$sfDir/events.parquet"),
      spark.read.parquet(s"$sfDir/events.parquet"))
    val loaded = joined(Tables.events(spark, sfDir), Tables.events(spark, sfDir))
    assert(loaded.size == Tables.events(spark, sfDir).count())
    assert(loaded == plain)
  }
}
