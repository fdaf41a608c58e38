package graft

import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.ProfileBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query execution profile — the one dev tool for "where does the
  * time go" and "does this setting help":
  *
  *   Test/runMain graft.Profile [--sf DIR] [--iters N]
  *     [--conf k=v1|v2|...] [--stages] [--plan] [query...]
  *
  * Defaults: Bench's sf0.1 data dir, 3 iterations, the bench headline
  * set, `local[Bench.resolvedCpus]`. One untimed warm-up pass, then N
  * timed passes to a noop sink with Bench's per-query state release
  * between queries. Each timed query prints wall time, build time
  * (`build_ms`: DataFrame construction, where table resolution and
  * eager pins run, so a job started before the write shows there),
  * jobs, stages, tasks and task-seconds from one listener; the run
  * ends with each query's minimum and the last pass's jobs per query.
  * `Bench.probeSec` before and after the run shows host contention
  * (~0.6 s idle).
  *
  *  - `--stages`: the per-stage split of each query's last pass.
  *  - `--plan`: each query's final adaptive executed plan, with
  *    expression, exchange and stage ids replaced by fixed tokens
  *    ([[normalizePlan]]), so the plans of two runs diff cleanly.
  *  - `--conf k=v`: a SQL conf set in-process before the first pass.
  *    `k=v1|v2|...`: an interleaved A/B — N rounds, each value in its
  *    own fresh JVM (same classpath and JVM arguments; warm-up plus one
  *    timed pass), then each value's per-query minimum. */
object Profile {
  final case class Opts(sf: String = "/root/testdata/sf0.1", iters: Int = 3,
                        conf: Option[(String, Seq[String])] = None,
                        stages: Boolean = false, plan: Boolean = false,
                        queries: Seq[String] = Nil)

  def parseArgs(args: Seq[String]): Opts = {
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--sf" :: dir :: tail => go(tail, o.copy(sf = dir))
      case "--iters" :: n :: tail =>
        val iters = n.toIntOption.filter(_ >= 1).getOrElse(
          throw new IllegalArgumentException(s"--iters wants a positive integer, got '$n'"))
        go(tail, o.copy(iters = iters))
      case "--conf" :: kv :: tail =>
        val eq = kv.indexOf('=')
        if (eq <= 0) throw new IllegalArgumentException(s"--conf wants k=v1|v2|..., got '$kv'")
        go(tail, o.copy(conf = Some(kv.take(eq) -> kv.drop(eq + 1).split('|').toSeq)))
      case "--stages" :: tail => go(tail, o.copy(stages = true))
      case "--plan" :: tail => go(tail, o.copy(plan = true))
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown or incomplete option '$flag'")
      case q :: tail => go(tail, o.copy(queries = o.queries :+ q))
    }
    val o = go(args.toList, Opts())
    val unknown = o.queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(",")}")
    o
  }

  final case class Stage(id: Int, tasks: Int, runSec: Double, shuffleReadMb: Double, name: String)
  final case class Run(wallSec: Double, buildSec: Double, jobs: Int, stages: Seq[Stage],
                       tasks: Int, taskSec: Double, plan: String)

  /** Counts one query run at a time: jobs, stages and tasks from the
    * scheduler, the executed plan from the last successful execution
    * (rendered in `result`, outside the timed window). */
  final class Recorder extends SparkListener with QueryExecutionListener {
    private var jobs = 0
    private var tasks = 0
    private var taskMs = 0L
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var lastQe: QueryExecution = null

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages += Stage(si.stageId, si.numTasks, m.fold(-1.0)(_.executorRunTime / 1e3),
        m.fold(-1.0)(_.shuffleReadMetrics.totalBytesRead / 1e6), si.name)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { lastQe = qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def reset(): Unit = synchronized { jobs = 0; tasks = 0; taskMs = 0L; stages.clear(); lastQe = null }
    def result(wallSec: Double, buildSec: Double): Run = synchronized {
      Run(wallSec, buildSec, jobs, stages.toSeq, tasks, taskMs / 1e3,
        Option(lastQe).fold("")(_.executedPlan.toString))
    }
  }

  def withRecorder[T](spark: SparkSession)(f: Recorder => T): T = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try f(rec)
    finally { spark.listenerManager.unregister(rec); spark.sparkContext.removeSparkListener(rec) }
  }

  /** One run of `name` to a noop sink (built and written inside the
    * timed window, as in Bench), then the query's state release. */
  def measure(spark: SparkSession, rec: Recorder, name: String, dir: String): Run = {
    val query = SparkEntry.queries(name)
    ProfileBus.drain(spark.sparkContext)
    rec.reset()
    val t0 = System.nanoTime()
    val df = query(spark, dir)
    val build = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    ProfileBus.drain(spark.sparkContext)
    try rec.result(wall, build) finally Verify.releaseQueryState(spark)
  }

  /** `plan` with its run-dependent numbers replaced by fixed tokens:
    * expression ids (`#1234`), exchange `plan_id=` values, and the
    * query-stage and codegen-stage ids, which follow the order in
    * which AQE's stages happened to finish. */
  def normalizePlan(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("QueryStage \\d+", "QueryStage N").replaceAll("\\*\\(\\d+\\)", "*(N)")

  private def fmt(pattern: String, args: Any*): String = pattern.formatLocal(Locale.ROOT, args: _*)

  private def profile(o: Opts): Unit = {
    val cpus = Bench.resolvedCpus.toString
    val spark = GraftSession.local(cpus, cpus, logLevel = "ERROR")
    o.conf.foreach { case (k, vs) => spark.conf.set(k, vs.head) }
    val names = if (o.queries.nonEmpty) o.queries else SparkEntry.headline
    println(fmt("probe_sec_before %.2f", Bench.probeSec()))
    val passes = withRecorder(spark) { rec =>
      names.foreach(measure(spark, rec, _, o.sf))
      (1 to o.iters).map { i =>
        names.map { n =>
          val r = measure(spark, rec, n, o.sf)
          println(fmt("pass %d %-28s wall %7.3f s  build_ms %6.0f  jobs %3d  stages %3d  tasks %5d  task_s %8.3f",
            i, n, r.wallSec, r.buildSec * 1e3, r.jobs, r.stages.size, r.tasks, r.taskSec))
          n -> r
        }
      }
    }
    val last = passes.last
    for ((n, r) <- last) {
      if (o.stages) {
        println(s"== stages of $n (last pass) ==")
        r.stages.sortBy(-_.runSec).foreach { s =>
          println(fmt("stage %4d tasks %4d run %8.3f s shuffle_read %8.2f MB  %s",
            s.id, s.tasks, s.runSec, s.shuffleReadMb, s.name.take(90)))
        }
      }
      if (o.plan) println(s"== final plan of $n ==\n${normalizePlan(r.plan)}")
    }
    val mins = names.map(n => n -> passes.map(_.toMap.apply(n).wallSec).min)
    mins.foreach { case (n, s) => println(fmt("min %-28s %8.3f s", n, s)) }
    println(fmt("total_min %.3f s over %d queries", mins.map(_._2).sum, names.size))
    val jobs = last.map(_._2.jobs).sorted
    val (maxQ, maxRun) = last.maxBy(_._2.jobs)
    println(fmt("jobs_last_pass total %d median %d max %d (%s)",
      jobs.sum, jobs(jobs.size / 2), maxRun.jobs, maxQ))
    println(fmt("probe_sec_after %.2f", Bench.probeSec()))
    spark.stop()
  }

  /** Interleaved fresh-JVM A/B of one conf key over several values. */
  private def abTest(o: Opts, key: String, values: Seq[String]): Unit = {
    val jvm = Seq(s"${sys.props("java.home")}/bin/java") ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", sys.props("java.class.path"), "graft.Profile")
    val flags = (if (o.stages) Seq("--stages") else Nil) ++ (if (o.plan) Seq("--plan") else Nil)
    val best = mutable.LinkedHashMap.empty[(String, String), Double]
    for (round <- 1 to o.iters; v <- values) {
      val args = Seq("--sf", o.sf, "--iters", "1", "--conf", s"$key=$v") ++ flags ++ o.queries
      val rc = Process(jvm ++ args).!(ProcessLogger(
        { line =>
          println(s"[$v r$round] $line")
          line.split("\\s+") match {
            case Array("min", q, sec, "s") =>
              best((v, q)) = math.min(best.getOrElse((v, q), Double.MaxValue), sec.toDouble)
            case _ => ()
          }
        },
        line => System.err.println(line)))
      if (rc != 0) sys.error(s"child run $key=$v round $round exited $rc")
    }
    println(s"== $key: per-query minimum over ${o.iters} interleaved fresh-JVM rounds ==")
    for (v <- values) {
      val mins = best.collect { case ((`v`, q), s) => q -> s }
      mins.foreach { case (q, s) => println(fmt("%-10s %-28s %8.3f s", v, q, s)) }
      println(fmt("%-10s %-28s %8.3f s", v, "total", mins.values.sum))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args.toSeq)
    o.conf match {
      case Some((k, vs)) if vs.size > 1 => abTest(o, k, vs)
      case _ => profile(o)
    }
  }
}
