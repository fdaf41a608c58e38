package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Pin
import graft.queries.PipelineOps
import graft.streaming.StreamCapstone

/** The persisted streaming capstone over a MemoryStream: base indexes
  * built once, then delta batches sent one at a time, each one
  * `addData` + `processAllAvailable`. */
final class StreamHarness(spark: SparkSession, base: DataFrame, bench: DataFrame,
                          dir: String, prefix: String, buckets: Int) {
  implicit private val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private val input = MemoryStream[(Long, String)]
  private var query: StreamingQuery = _
  /** Batches sent, in order: index i is micro-batch id i. */
  val sent = mutable.ArrayBuffer.empty[Seq[(Long, String)]]

  def start(): Unit = {
    PipelineOps.persistBaseIndexes(PipelineOps.baseIndexes(base, bench),
      s"$dir/idx", prefix, buckets)
    // the replay starts from the same base indexes: keep their files
    // before the first batch appends to them
    Seq("rawfp", "bands").foreach { t =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new File(s"$dir/idx/$t"), new File(s"$dir/base_idx/$t"))
    }
    query = StreamCapstone.incrementalCapstoneStreamPersisted(
      input.toDF().toDF("doc_id", "text"), prefix, bench,
      s"$dir/out", s"$dir/quarantine", s"$dir/ckpt", buckets)
  }

  def send(rows: Seq[(Long, String)]): Unit = {
    sent += rows
    input.addData(rows: _*)
    query.processAllAvailable()
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Survivors (doc_id, clean_text) per micro-batch id. */
  def survivors(): Map[Long, Set[(Long, String)]] =
    if (!new File(s"$dir/out").exists()) Map.empty
    else spark.read.parquet(s"$dir/out").select("doc_id", "clean_text", "batch_id")
      .collect().groupBy(_.getLong(2))
      .map { case (b, rs) => b -> rs.map(r => (r.getLong(0), r.getString(1))).toSet }

  /** Data files under the index tables: one set per append. */
  def indexFiles(): Int = Seq("rawfp", "bands").map { t =>
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1
    walk(new File(s"$dir/idx/$t"))
  }.sum

  def dropTables(): Unit = Seq("rawfp", "bands")
    .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
}

object Replay {
  final case class Step(survivors: Set[(Long, String)], stepS: Double, appendS: Double)

  /** The same batch boundaries replayed through the public batch
    * functions `PipelineOps.incrementalStep` and `appendBaseIndexes`,
    * over a fresh bucketed copy of the base indexes the stream started
    * from (saved by [[StreamHarness.start]]). */
  def apply(spark: SparkSession, bench: DataFrame,
            batches: Seq[Seq[(Long, String)]], dir: String, prefix: String,
            buckets: Int, release: () => Unit): Seq[Step] = {
    import spark.implicits._
    PipelineOps.persistBaseIndexes(PipelineOps.BaseIndexes(
      spark.read.parquet(s"$dir/base_idx/rawfp"), spark.read.parquet(s"$dir/base_idx/bands")),
      s"$dir/ridx", prefix, buckets)
    try batches.map { rows =>
      val raw = rows.toDF("doc_id", "text").transform(Pin(_))
      val idx = PipelineOps.BaseIndexes(
        spark.table(s"${prefix}_rawfp"), spark.table(s"${prefix}_bands"))
      val t0 = System.nanoTime()
      val (surv, delta) = PipelineOps.incrementalStep(idx, raw, bench)
      val got = surv.select(col("doc_id"), col("clean_text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val t1 = System.nanoTime()
      PipelineOps.appendBaseIndexes(delta, prefix, buckets)
      val t2 = System.nanoTime()
      spark.catalog.refreshTable(s"${prefix}_rawfp")
      spark.catalog.refreshTable(s"${prefix}_bands")
      release()
      Step(got, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    finally Seq("rawfp", "bands").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
  }
}

/** The `stream` workload: one pass is one micro-batch of the seeded
  * deltas. Warm-up batches go through the same stream during set-up. */
final class StreamRun(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val data = ctx.args.data
  private val dir = s"${ctx.args.work}/stream"
  private val n = ctx.args.cores
  private var bench: DataFrame = _
  private var base: DataFrame = _
  private var batches: IndexedSeq[Seq[(Long, String)]] = IndexedSeq.empty
  private var next = 0
  private var h: StreamHarness = _
  private var replay: Seq[Replay.Step] = Nil
  private var indexFiles = 0
  var rowsPerPass = 0L

  def setup(): Unit = {
    bench = spark.read.parquet(s"$data/bench/documents.parquet").select("doc_id", "text")
    base = spark.read.parquet(s"$data/base/documents.parquet").select("doc_id", "text")
    batches = spark.read.parquet(s"$data/deltas/deltas.parquet")
      .select("batch", "doc_id", "text").collect()
      .groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1)
      .map(_._2.toSeq.map(r => (r.getLong(1), r.getString(2))).sortBy(_._1))
    rowsPerPass = batches.headOption.map(_.size.toLong).getOrElse(0L)
    h = new StreamHarness(spark, base, bench, dir, "pb_idx", n)
    h.start()
  }

  def warmup(): Unit = (0 until ctx.args.int("warmup")).foreach(_ => send(-1, record = false))

  override def hasNext: Boolean = next < batches.size

  def pass(p: Int): Unit = send(p, record = true)

  private def send(p: Int, record: Boolean): Unit = {
    val b = next
    next += 1
    ctx.op(s"batch_$b", p, record)(h.send(batches(b)))
  }

  def check(): (Map[String, Any], Set[(String, Int)]) = {
    h.stop()
    indexFiles = h.indexFiles()
    val got = h.survivors()
    replay = Replay(spark, bench, h.sent.toSeq, dir, "pb_ridx", n, () => ctx.release())
    val mismatched = replay.zipWithIndex.collect {
      case (st, i) if got.getOrElse(i.toLong, Set.empty) != st.survivors => i
    }.toSet
    // micro-batch i carried delta batch i; ops are named by delta batch
    val bad = ctx.ops.filter(o => mismatched(o.name.stripPrefix("batch_").toInt))
      .map(o => (o.name, o.pass)).toSet
    (Map(
      "batches_sent" -> h.sent.size,
      "survivors" -> got.values.map(_.size).sum,
      "replay_survivors" -> replay.map(_.survivors.size).sum,
      "mismatched_batches" -> mismatched.toList.sorted,
      "quarantine_path" -> s"$dir/quarantine",
      "index_files" -> indexFiles), bad)
  }

  override def cleanup(): Unit = { h.stop(); h.dropTables() }

  override def traceExtras(progress: List[Map[String, Long]]): Map[String, Double] =
    Probes.streamMetrics(progress, replay, indexFiles)
}
