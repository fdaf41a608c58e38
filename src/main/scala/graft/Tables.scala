package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated synthetic tables
  * (TPC-H-ish star schema + `events` stream + `documents`/`embeddings`).
  *
  * Mirrors the reference's ingest layer (reference:
  * dataset/utils.py:combat_dir_iterator — a directory of event files is
  * the unit of input), re-expressed as parquet scans so Catalyst gets
  * predicate pushdown + column pruning for free.
  *
  * Each table's schema is resolved once per session and path: an
  * unhinted `spark.read.parquet` runs a schema-merge Spark job on
  * every call, before the query's own jobs. Later loads read with the
  * cached schema, and every call still returns a fresh relation (new
  * expression ids, so self-joins analyze). The cache keeps the schema,
  * never the DataFrame, and an entry holds only while the path's file
  * listing (leaf names, sizes, modification times) is unchanged, so a
  * table rewritten in place re-resolves on its next load.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across data drops. Spark rejects NANOS
      // outright unless this legacy conf surfaces it as BIGINT
      // epoch-nanos (runtime-settable, idempotent, no effect on
      // MICROS files). EventFunctions.norm then branches on the read
      // schema so either encoding yields identical int64 µs.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val files = listing(spark, path)
    val bySession = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, (Listing, StructType)]()))
    Option(bySession.get(path)) match {
      case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        bySession.put(path, (files, df.schema))
        df
    }
  }

  /** (leaf path, length, modification time) of every file of a table. */
  private type Listing = Seq[(String, Long, Long)]

  // Weak session keys: a stopped session's entry is collectable.
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Listing, StructType)]]()

  /** The listing of `path` (the file itself for a single-file table);
    * empty when the path does not exist, so the read reports it as
    * Spark does. */
  private def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      files.result().sorted
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  // Embedding vectors are consumed as array<float> by the native
  // vector expressions (QuantizedDotProduct/LshBucketKeys). The
  // driver's drops have already silently changed one physical type
  // between rounds (events.ts); if `embedding` ever arrives as
  // array<double>, cast it back at the scan boundary rather than
  // letting every vector operator fail type-check. (Quantization
  // floors to 1e-7 resolution, so a float-generated double column
  // round-trips exactly.)
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val df = load(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case at @ ArrayType(DoubleType, _) =>
        // Loud, not silent: a genuinely double-precision drop loses
        // bits here, and the oracle hash gate would flag it — surface
        // the detected physical type so that failure is diagnosable.
        org.slf4j.LoggerFactory.getLogger("graft.Tables").warn(
          s"embeddings.embedding read as $at; casting to array<float>. " +
          "Exact round-trip holds only for float-originated values — " +
          "a true double-precision drop will lose precision.")
        df.withColumn("embedding",
          org.apache.spark.sql.functions.col("embedding").cast(ArrayType(FloatType)))
      case other =>
        throw new IllegalStateException(
          s"embeddings.embedding has unsupported physical type $other " +
          "(expected array<float> or array<double>)")
    }
  }
}
