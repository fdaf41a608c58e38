package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}

/** Harness arguments, passed as key=value pairs by run.py. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def workload: String = apply("workload")
  def data: String = apply("data")
  def work: String = apply("work")
  def trace: Boolean = apply("trace") == "1"
  def cores: Int = int("cores")
  def seconds: Double = apply("seconds").toDouble
}

/** One timed user-visible operation: a query or a micro-batch. */
final case class Op(name: String, pass: Int, s: Double, cpuS: Double,
                    ok: Boolean, err: String)

/** Shared per-run state: the session, the op log and, in the traced
  * run, the tracer. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var tracer: Option[Tracer] = None
  var runSpan: Int = -1
  /** (pass, wall s) of every completed timed pass. */
  val passes = mutable.ArrayBuffer.empty[(Int, Double, Double)]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow: Double = os.getProcessCpuTime / 1e9

  /** Run one operation; a throw is recorded as a failed op. */
  def op[T](name: String, pass: Int, record: Boolean)(body: => T): Option[T] = {
    val c0 = cpuNow
    val t0 = System.nanoTime()
    val r: Either[Throwable, T] =
      try {
        val v: T = tracer match {
          case Some(tr) => tr.span(name, "op", runSpan) { id =>
            spark.sparkContext.setJobGroup(s"op-$id", name)
            try body finally spark.sparkContext.clearJobGroup()
          }._1
          case None => body
        }
        Right(v)
      } catch { case NonFatal(e) => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    val c = cpuNow - c0
    r match {
      case Right(v) =>
        if (record) ops += Op(name, pass, s, c, ok = true, "")
        Some(v)
      case Left(e) =>
        System.err.println(s"[perfbench] $name (pass $pass) failed: $e")
        if (record) ops += Op(name, pass, s, c, ok = false, e.toString)
        None
    }
  }

  /** Drop the session's cached tables and pinned blocks between queries
    * (the same hygiene graft.Bench applies per query). */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** A workload: set-up (input registration and warm-up), one closed-loop
  * pass, and output checks run after the timed window. */
trait Workload {
  /** Input rows one pass consumes. */
  def rowsPerPass: Long
  def setup(): Unit
  def warmup(): Unit
  /** false when the workload has no more input to send. */
  def hasNext: Boolean = true
  def pass(p: Int): Unit
  /** Runs after the timed window; returns check results for run.py and
    * the names of ops whose output failed a check. */
  def check(): (Map[String, Any], Set[(String, Int)])
  def cleanup(): Unit = ()
  /** Extra per-layer results of the traced run, given the streaming
    * progress the traced pass reported. */
  def traceExtras(progress: List[Map[String, Long]]): Map[String, Double] = Map.empty
}

object Main {
  val DistillQueries: Seq[String] = Seq(
    "q11_sessionize", "q12_message_groups", "q13_nearest_assoc", "q14_triples",
    "q15_author_filter", "q16_message_count", "q17_event_count",
    "q18_msg_cmd_ratio", "q19_avg_msg_len", "q20_words_between_cmds",
    "q21_participants", "q22_time_to_command", "q23_cmds_no_message",
    "q24_turn_changes", "q50_finetune_pairs", "q51_words_per_turn",
    "q52_actor_mix", "q53_asof_state", "q54_range_pairs",
    "q59_prompt_assembly", "q62_sta_nar_assembly")
  val PretrainQueries: Seq[String] = Seq("q96_pretrain_capstone", "q70_dedup_clusters")

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val res = mutable.LinkedHashMap.empty[String, Any]

    val t0 = System.nanoTime()
    val spark = GraftSession.local(args.cores.toString, args.cores.toString)
    val buildS = (System.nanoTime() - t0) / 1e9
    val failures = new FailureCounter
    spark.sparkContext.addSparkListener(failures)
    val ctx = new Ctx(spark, args)

    val wl: Workload = args.workload match {
      case "distill" =>
        new QuerySet(ctx, DistillQueries, s"${args.data}/distill", None)
      case "pretrain" =>
        new QuerySet(ctx, PretrainQueries, s"${args.data}/pretrain",
          Some(s"${args.data}/oracle"))
      case "stream" => new StreamRun(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    wl.setup()
    val tw = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    res("build_s") = buildS
    res("warmup_s") = warmupS
    res("timed_start_ms") = System.currentTimeMillis()

    // the timed window: closed loop, one pass after the other, at least
    // `passes` of them and then more until `seconds` have passed
    val tStart = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (wl.hasNext && (p < args.int("passes") || elapsed < args.seconds)) {
      runPass(ctx, wl, p)
      p += 1
    }
    res("timed_s") = elapsed
    res("peak_rss_mb") = vmHwmMb()
    res("rows_per_pass") = wl.rowsPerPass

    // the traced run: one more pass with the listeners attached, then
    // an untraced one, so the untraced reference brackets the traced
    // pass and JIT warming between passes does not read as tracing
    // overhead
    val traced = if (!args.trace) None else {
      val tr = new Tracer(spark)
      val before = ctx.passes.map(_._2).toList
      tr.attach()
      ctx.tracer = Some(tr)
      val (_, rid) = tr.span(s"${args.workload} run", "run", -1) { id =>
        ctx.runSpan = id
        if (wl.hasNext) runPass(ctx, wl, p)
      }
      ctx.tracer = None
      tr.detach()
      val queryLayer = Probes.queryLayer(ctx, tr, rid)
      val progress = tr.progressSnapshot
      val tracedS = ctx.passes.drop(before.size).map(_._2).toList
      if (wl.hasNext) runPass(ctx, wl, p + 1)
      val after = ctx.passes.drop(before.size + tracedS.size).map(_._2).toList
      res("trace_overhead_s") = median(tracedS) - median(before.takeRight(1) ++ after)
      Some((tr, queryLayer, progress))
    }

    val (checks, badOps) =
      try wl.check()
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check failed: $e")
          e.printStackTrace()
          (Map[String, Any]("error" -> e.toString), ctx.ops.map(o => (o.name, o.pass)).toSet)
      }

    traced.foreach { case (tr, queryLayer, progress) =>
      tr.clearProgress()
      tr.attach()
      res("layers") = queryLayer ++ wl.traceExtras(progress) ++ Probes.run(ctx, tr)
      tr.detach()
      res("spans") = Json.Raw(tr.spansJson())
    }
    res("checks") = checks
    res("ops") = ctx.ops.map(o => Map(
      "name" -> o.name, "pass" -> o.pass, "s" -> o.s, "cpu_s" -> o.cpuS,
      "ok" -> (o.ok && !badOps((o.name, o.pass))), "err" -> o.err)).toList
    res("passes") = ctx.passes.map(x => Map("pass" -> x._1, "s" -> x._2, "cpu_s" -> x._3)).toList
    res("spark_failed_tasks") = failures.failedTasks
    res("spark_aborted_jobs") = failures.abortedJobs
    wl.cleanup()
    val out = Paths.get(args.work, "result.json")
    Files.writeString(out, Json.value(res.toMap) + "\n")
    spark.stop()
  }

  private def runPass(ctx: Ctx, wl: Workload, p: Int): Unit = {
    val before = ctx.ops.size
    wl.pass(p)
    val mine = ctx.ops.drop(before)
    if (mine.nonEmpty) ctx.passes += ((p, mine.map(_.s).sum, mine.map(_.cpuS).sum))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** distill and pretrain: SparkEntry queries run back to back, each
  * collected to the driver. Outputs of every pass are hashed; the last
  * pass's outputs are written as parquet for run.py's checks. */
final class QuerySet(ctx: Ctx, names: Seq[String], dir: String,
                     oracleDir: Option[String]) extends Workload {
  private val spark = ctx.spark
  private val last = mutable.Map.empty[String, (Array[Row], StructType)]
  private val hashes = mutable.Map.empty[(String, Int), String]
  /** Input rows, from the generator's manifest. */
  val rowsPerPass: Long = ctx.args.apply("rows").toLong

  def setup(): Unit = ()

  private def runQuery(q: String, d: String): (Array[Row], StructType) = {
    val df = SparkEntry.queries(q)(spark, d)
    (df.collect(), df.schema)
  }

  /** Outputs of the warm-up pass over the oracle corpus. */
  private val oracleOut = mutable.Map.empty[String, (Array[Row], StructType)]

  /** Warm-up: a pass over the small oracle corpus when there is one
    * (its outputs are the ones the oracle checks), then full passes.
    * Warm-up queries run concurrently, one per core: a cold pass is
    * mostly single-threaded driver work (planning, code generation, JIT),
    * which overlaps across queries. Timed passes stay sequential. */
  def warmup(): Unit = {
    def concurrently(d: String, keep: Boolean): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.args.cores)
      try {
        names.map { q =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = ctx.op(q, -1, record = false)(runQuery(q, d))
              .foreach(r => if (keep) oracleOut.synchronized { oracleOut(q) = r })
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      ctx.release()
    }
    oracleDir.foreach(concurrently(_, keep = true))
    (0 until ctx.args.int("warmup")).foreach(_ => concurrently(dir, keep = false))
  }

  def pass(p: Int): Unit = {
    val got = names.map(q => q -> ctx.op(q, p, record = true)(runQuery(q, dir)).map { r =>
      ctx.release(); r
    })
    // hashing runs outside the ops' timers
    got.foreach { case (q, r) => r.foreach { x =>
      last(q) = x
      hashes((q, p)) = QuerySet.digest(x._1)
    } }
  }

  private def write(rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def check(): (Map[String, Any], Set[(String, Int)]) = {
    val out = s"${ctx.args.work}/out"
    last.foreach { case (q, (rows, schema)) => write(rows, schema, s"$out/$q") }
    // every pass must produce the checked (last) output
    val bad = hashes.collect {
      case ((q, p), h) if last.get(q).exists(x => QuerySet.digest(x._1) != h) => (q, p)
    }.toSet
    oracleDir.foreach { od =>
      names.foreach { q =>
        val (rows, schema) = oracleOut.getOrElse(q, runQuery(q, od))
        write(rows, schema, s"$out/oracle_$q")
        ctx.release()
      }
    }
    val sql = SparkEntry.oracleSql
    (Map("outputs" -> last.keys.toList.sorted.map(q => Map(
      "query" -> q, "path" -> s"$out/$q", "rows" -> last(q)._1.length,
      "oracle_sql" -> sql.getOrElse(q, ""),
      "oracle_path" -> oracleDir.map(_ => s"$out/oracle_$q").getOrElse(""),
      "nondeterministic_passes" -> bad.count(_._1 == q)))), bad)
  }
}

object QuerySet {
  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
