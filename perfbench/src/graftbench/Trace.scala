package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts Spark-level failures. Registered on every run, traced or
  * not: a failed task or an aborted job is not a failed user-visible
  * operation, but it must not go unseen either. */
class FailureCounter extends SparkListener {
  @volatile var failedTasks = 0L
  @volatile var abortedJobs = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) synchronized { failedTasks += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
    case JobSucceeded => ()
    case _ => synchronized { abortedJobs += 1 }
  }
}

/** One traced interval. Times are epoch milliseconds, the clock Spark
  * stamps its listener events with. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, layer: String,
                      start: Long, end: Long, parent: Int)

/** In-memory tracer of the traced run: a `SparkListener` (jobs,
  * stages, tasks), a `QueryExecutionListener` (planning phases,
  * observed metrics) and a `StreamingQueryListener` (micro-batch
  * progress), all registered from outside the program. Spans are kept
  * in memory and written once the run ends. */
class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object

  final case class Job(id: Int, start: Long, var end: Long, group: String)
  final case class Plan(start: Long, planMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val cpuNsByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var failedTasks = 0L
  var abortedJobs = 0L
  val plans = mutable.ArrayBuffer.empty[Plan]
  /** k of every observed metric named cc_round_<k>: one per
    * ConnectedComponents round. */
  private val ccRounds = mutable.ArrayBuffer.empty[Int]
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val j = Job(e.jobId, e.time, -1L, Option(e.properties)
        .flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""))
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(stageGroup(_) = j.group)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobById.get(e.jobId).foreach { j =>
        j.end = e.time
        if (e.jobResult != JobSucceeded) abortedJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      if (e.reason != org.apache.spark.Success) failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime
        stageGroup.get(e.stageId).foreach(g => cpuNsByGroup(g) += m.executorCpuTime)
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        val ms = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
        lock.synchronized { plans += Plan(start, ms) }
      }
      qe.observedMetrics.keys.filter(_.startsWith("cc_round_")).foreach { k =>
        lock.synchronized { ccRounds += k.stripPrefix("cc_round_").toInt }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      lock.synchronized { progress += (d + ("batchId" -> e.progress.batchId)) }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the bus first, so every event of the traced work is in. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Run `body` (given the new span's id) as a span under `parent`;
    * returns (result, span id). */
  def span[T](name: String, layer: String, parent: Int)(body: Int => T): (T, Int) = {
    val id = lock.synchronized { nextId += 1; nextId }
    val t0 = System.currentTimeMillis()
    try (body(id), id)
    finally {
      val t1 = System.currentTimeMillis()
      lock.synchronized { spans += Span(id, name, layer, t0, t1, parent) }
    }
  }

  def allSpans: Seq[Span] = lock.synchronized { spans.toList }

  /** Executor CPU time of the tasks of the jobs in a job group. */
  def groupCpuNs(group: String): Long = lock.synchronized { cpuNsByGroup(group) }

  /** Jobs whose group names the op span, else (stream batches run on
    * the stream thread) whose start falls inside it. */
  def jobsOf(op: Span): Seq[Job] = lock.synchronized {
    jobs.filter(j => j.group == s"op-${op.id}" ||
      (!j.group.startsWith("op-") && j.start >= op.start && j.start <= op.end)).toList
  }

  /** Wall time of `op` when no Spark job was running, in ms. */
  def driverGapMs(op: Span): Long = {
    val iv = jobsOf(op).map(j => (math.max(j.start, op.start),
      math.min(if (j.end < 0) op.end else j.end, op.end))).filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (op.end - op.start) - covered
  }

  def planMsWithin(s: Long, e: Long): Long = lock.synchronized {
    plans.filter(p => p.start >= s && p.start <= e).map(_.planMs).sum
  }

  /** Rounds of the ConnectedComponents calls seen since the last
    * take (the highest cc_round_<k> observed), then forget them. */
  def takeCcRounds(): Int = lock.synchronized {
    val r = if (ccRounds.isEmpty) 0 else ccRounds.max
    ccRounds.clear()
    r
  }

  def progressSnapshot: List[Map[String, Long]] = lock.synchronized { progress.toList }

  def clearProgress(): Unit = lock.synchronized { progress.clear() }

  /** Spans plus one child span per Spark job, as JSON. */
  def spansJson(): String = {
    val ss = allSpans
    val jobSpans = ss.filter(s => s.layer == "op" || s.layer == "call").flatMap { op =>
      jobsOf(op).map(j => Span(-j.id - 1, s"job ${j.id}", "job", j.start,
        if (j.end < 0) op.end else j.end, op.id))
    }
    Json.arr((ss ++ jobSpans).map(s => Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent))))
  }
}
