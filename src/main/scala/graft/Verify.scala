package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  * Usage: graft.Verify <sfDir> <outDir> [names...] — with names, only
  * those queries and their oracle rows are dumped. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Per-query session cleanup: the catalog cache (q35's cached
    * shingle rows) AND the RDD-level localCheckpoint pins —
    * `clearCache` alone does NOT touch the latter (they live in the
    * block manager, not the CacheManager), so a full-suite run would
    * otherwise accumulate ~90 queries of dead pinned blocks (the
    * measured +0.25 s/query cross-query tax the Bench hygiene fix
    * quantified). Each query constructs its DataFrames fresh, so a
    * finished query's pins are garbage by construction. */
  private[graft] def releaseQueryState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [names...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    def pick[V](m: Map[String, V]): Map[String, V] =
      if (names.isEmpty) m else m.filter(kv => names(kv._1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    pick(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally releaseQueryState(spark)
    }
    val json = pick(SparkEntry.oracleSql)
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
