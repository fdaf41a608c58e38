package graft

import org.apache.spark.ProfileBus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, tests run at
  * sf0.001 for speed — the DuckDB oracle gate runs at sf0.01).
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local("4", "4")
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = Profile.withRecorder(spark) { rec =>
    ProfileBus.drain(spark.sparkContext)
    rec.reset()
    body
    ProfileBus.drain(spark.sparkContext)
    rec.result(0.0, 0.0).jobs
  }

  // queries may cache intermediates (e.g. q35's shingle rows); the
  // session is JVM-wide, so drop cached blocks between tests
  override protected def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()
}
