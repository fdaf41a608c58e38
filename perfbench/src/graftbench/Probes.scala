package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.EventFunctions
import graft.operators.{ConnectedComponents, Dedup, FinetunePrep, NearestEvent, Pin,
  Quality, SequencePack, Sessionize}

/** Times calls into one layer's public functions as spans ("call")
  * under one root span, with their Spark jobs tied by job group. */
private final class Calls(ctx: Ctx, tr: Tracer, root: Int) {
  /** Wall seconds of one call. */
  def secs(name: String)(body: => Unit): Double = timed(name)(body)._1

  /** Best of `k` calls: the first call of a probe may pay code
    * generation the workload already paid for. */
  def best(name: String, k: Int)(body: => Unit): Double =
    (1 to k).map(_ => secs(name)(body)).min

  /** Least executor CPU seconds of `k` calls' tasks: free of the
    * scheduling jitter a wall time of a short job carries. */
  def cpu(name: String, k: Int)(body: => Unit): Double =
    (1 to k).map { _ =>
      val id = timed(name)(body)._2
      tr.drain()
      tr.groupCpuNs(s"op-$id") / 1e9
    }.min

  private def timed(name: String)(body: => Unit): (Double, Int) = {
    System.err.println(s"[perfbench] probe $name")
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    val id = tr.span(name, "call", root) { id =>
      sc.setJobGroup(s"op-$id", name)
      try body finally sc.clearJobGroup()
    }._2
    ((System.nanoTime() - t0) / 1e9, id)
  }
}

/** Per-layer measurements of the traced run. Each probe times a call
  * into one layer's public functions on pinned inputs, so the time is
  * the layer's own. Every traced run measures every layer: a workload
  * without events or docs probes that layer on a small seeded side
  * table (see README.md). */
object Probes {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** queries.*: the traced pass, from the listeners. */
  def queryLayer(ctx: Ctx, tr: Tracer, runId: Int): Map[String, Double] = {
    val spans = tr.allSpans
    val run = spans.find(_.id == runId).get
    val ops = spans.filter(s => s.parent == runId && s.layer == "op")
    val jobs = ops.flatMap(tr.jobsOf)
    val wall = (run.end - run.start) / 1000.0
    val taskS = tr.taskMs / 1000.0
    val gaps = ops.map(tr.driverGapMs).sum / 1000.0
    val opS = ops.map(s => s.end - s.start).sum / 1000.0
    val perQuery = ops.groupBy(_.name).toSeq.flatMap { case (q, ss) =>
      Seq(s"queries.$q.s" -> ss.map(s => s.end - s.start).sum / 1000.0,
        s"queries.$q.jobs" -> ss.map(tr.jobsOf(_).size).sum.toDouble)
    }
    Map(
      "queries.jobs" -> jobs.size.toDouble,
      "queries.stages" -> tr.stages.toDouble,
      "queries.tasks" -> tr.tasks.toDouble,
      "queries.task_s" -> taskS,
      "queries.busy_frac" -> taskS / (wall * ctx.args.cores),
      "queries.plan_s" -> tr.planMsWithin(run.start, run.end) / 1000.0,
      "queries.driver_gap_s" -> gaps,
      "queries.shuffle_read_mb" -> tr.shuffleRead / 1048576.0,
      "queries.shuffle_write_mb" -> tr.shuffleWrite / 1048576.0,
      "queries.spill_mb" -> tr.spill / 1048576.0,
      "queries.failed_tasks" -> tr.failedTasks.toDouble,
      "queries.aborted_jobs" -> tr.abortedJobs.toDouble,
      // self time per span level: run (harness between ops), op (driver
      // time with no job running), job (Spark jobs)
      "trace.self_s.run" -> (wall - opS),
      "trace.self_s.op" -> gaps,
      "trace.self_s.job" -> (opS - gaps)) ++ perQuery
  }

  /** streaming.*: progress from the listener plus the replay's timings
    * of the public batch functions. durationMs is whole milliseconds, so
    * the per-batch values are averaged, not median'd. */
  def streamMetrics(progress: List[Map[String, Long]], replay: Seq[Replay.Step],
                    indexFiles: Int): Map[String, Double] = {
    def mean(k: String): Double = {
      val v = progress.flatMap(_.get(k))
      if (v.isEmpty) Double.NaN else v.sum.toDouble / v.size
    }
    Map(
      "streaming.addBatch_ms" -> mean("addBatch"),
      "streaming.queryPlanning_ms" -> mean("queryPlanning"),
      "streaming.walCommit_ms" -> mean("walCommit"),
      "streaming.triggerExecution_ms" -> mean("triggerExecution"),
      "streaming.incrementalStep.s" -> Main.median(replay.map(_.stepS)),
      "streaming.appendBaseIndexes.s" -> Main.median(replay.map(_.appendS)),
      "streaming.index_files" -> indexFiles.toDouble,
      "streaming.progress_batches" -> progress.size.toDouble)
  }

  /** Every layer probe, under one "layer probes" span. */
  def run(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    val data = ctx.args.data
    val w = ctx.args.workload
    val evDir = if (w == "distill") s"$data/distill" else s"$data/probe_events"
    def docsAt(d: String) = spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    // (doc_id, text) and the predicate marking held-out benchmark rows
    val (docs, isBench) = w match {
      case "pretrain" => (docsAt(s"$data/pretrain"), col("doc_id") < 20)
      case "stream" =>
        val deltas = spark.read.parquet(s"$data/deltas/deltas.parquet").select("doc_id", "text")
        (docsAt(s"$data/bench").unionByName(docsAt(s"$data/base")).unionByName(deltas),
          col("doc_id") < 0)
      case _ => (docsAt(s"$data/probe_docs"), col("doc_id") < 20)
    }
    tr.span("layer probes", "run", -1) { root =>
      val calls = new Calls(ctx, tr, root)
      val ev = eventLayer(ctx, calls, evDir)
      val dl = docLayer(ctx, tr, calls, docs, isBench)
      val scan = if (w == "distill") ev("probe.events_scan_s") else dl("probe.docs_scan_s")
      val st = if (w == "stream") Map.empty[String, Double] else miniStream(ctx, tr, calls, w)
      ev ++ dl ++ st + ("Tables.scan_s" -> scan)
    }._1
  }

  private def eventLayer(ctx: Ctx, calls: Calls, dir: String): Map[String, Double] = {
    def events = Tables.events(ctx.spark, dir)
    val scan = calls.best("Tables.events", 2)(noop(events))
    val norm = calls.best("EventFunctions.norm", 2)(noop(EventFunctions.norm(events)))
    val n = Pin(EventFunctions.norm(events), eager = true)
    def assoc = NearestEvent.assoc(n, "instance_id", "ts_us", "event_id",
      sourcePred = EventFunctions.isMsg, targetPred = EventFunctions.isCmd)
    val assocS = calls.secs("NearestEvent.assoc")(noop(assoc))
    val sessS = calls.secs("Sessionize")(
      noop(Sessionize(n, "user_id", "ts_us", "event_id", 1800L * 1000000L)))
    val a = Pin(assoc.filter(col("value") >= 5), eager = true)
    val utt = concat(lit("u"), col("user_id").cast("string"), lit("#"),
      col("event_id").cast("string"))
    val pairsS = calls.secs("FinetunePrep.pairs")(noop(FinetunePrep.pairs(
      a, utt, col("ts_us"), col("event_id"), coKeys = Seq(col("instance_id")))))
    ctx.release()
    Map(
      "probe.events_scan_s" -> scan,
      "functions.norm_s" -> (norm - scan),
      "operators.NearestEvent.assoc.s" -> assocS,
      "operators.Sessionize.s" -> sessS,
      "operators.FinetunePrep.pairs.s" -> pairsS)
  }

  /** The native expressions q96 evaluates, each alone over pinned text. */
  val Exprs: Seq[(String, Column => Column)] = Seq(
    "RepetitionStats" -> (t => graft.plans.RepetitionStats(trim(t))),
    "PiiScan" -> (t => graft.plans.PiiScan(t, withCounts = false)),
    "ShingleHashes" -> (t => graft.plans.ShingleHashes(trim(t), 3, Dedup.P)),
    "RollingHashes" -> (t => graft.plans.RollingHashes(t, 40)),
    "TextStats" -> (t => graft.plans.TextStats(t)),
    "BpeTokenCount" -> (t => graft.plans.BpeTokenCount(t)))

  private def docLayer(ctx: Ctx, tr: Tracer, calls: Calls, docs: DataFrame,
                       isBench: Column): Map[String, Double] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val scan = calls.best("Tables.documents", 2)(noop(docs))
    // Pin: materialize the scanned docs; the pin's own cost is the time
    // over the plain scan, its size the blocks it stores
    val stored = () => sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val before = stored()
    var p: DataFrame = null
    val pinAll = calls.secs("Pin") { p = Pin(docs, eager = true) }
    val pinMb = (stored() - before) / 1048576.0
    // each expression's task CPU per row, alone over the pinned text
    // repeated to >= 40K rows; the floor (reading the pinned rows, a
    // trivial projection) is reported beside them, not subtracted
    val docRows = p.count()
    val reps = math.max(1L, math.ceil(40000.0 / docRows).toLong)
    val big = Pin(p.select(col("text")).crossJoin(spark.range(reps).select()), eager = true)
    val rows = big.count().toDouble
    val floor = calls.cpu("plans.floor", 2)(noop(big.select(length(col("text")).as("x"))))
    val exprs = Exprs.map { case (name, e) =>
      val t = calls.cpu(s"plans.$name", 2)(noop(big.select(e(col("text")).as("x"))))
      s"plans.$name.ns_per_row" -> t / rows * 1e9
    } :+ ("probe.plans_floor_ns_per_row" -> floor / rows * 1e9)
    val cleanS = calls.secs("Quality.cleanCorpusRaw")(noop(Quality.cleanCorpusRaw(p)))
    val unioned = Pin(p.filter(isBench).unionByName(
      Quality.cleanCorpusRaw(p).filter(!isBench)
        .select(col("doc_id"), col("red_text").as("text"))), eager = true)
    def decon = Dedup.decontaminateStrip(unioned, isBench, 40)
    val deconS = calls.secs("Dedup.decontaminateStrip")(noop(decon))
    val d = Pin(decon.select(col("doc_id"), col("clean_text")), eager = true)
    val sig = Pin(Dedup.withSignatureFromHashes(Dedup.shingleHashRows(
      d.select(col("doc_id"), col("clean_text").as("text")))), eager = true)
    val pairsS = calls.secs("Dedup.minhashPairsOwned")(noop(Dedup.minhashPairsOwned(sig)))
    val pairs = Pin(Dedup.minhashPairsOwned(sig), eager = true)
    tr.drain()
    tr.takeCcRounds()
    val ccS = calls.secs("ConnectedComponents.clusters")(noop(ConnectedComponents.clusters(pairs)))
    tr.drain()
    val ccRounds = tr.takeCcRounds()
    val tok = Pin(d.select(col("doc_id"),
      graft.plans.BpeTokenCount(col("clean_text")).as("tok")), eager = true)
    val packS = calls.secs("SequencePack.withBin")(
      noop(SequencePack.withBin(tok, col("tok"), Seq(col("doc_id")), 2048L)))
    ctx.release()
    Map(
      "probe.docs_scan_s" -> scan,
      "probe.docs_rows" -> docRows.toDouble,
      "operators.Pin.s" -> (pinAll - scan),
      "operators.Pin.mb" -> pinMb,
      "operators.Quality.cleanCorpusRaw.s" -> cleanS,
      "operators.Dedup.decontaminateStrip.s" -> deconS,
      "operators.Dedup.minhashPairsOwned.s" -> pairsS,
      "operators.ConnectedComponents.s" -> ccS,
      "operators.ConnectedComponents.rounds" -> ccRounds.toDouble,
      "operators.SequencePack.s" -> packS) ++ exprs
  }

  /** distill and pretrain have no stream: run the streaming capstone on
    * a small slice of the probe docs (benchmark ids below 20, base
    * 20..599, two delta batches of 100 above it) so the streaming layer
    * is measured too. */
  private def miniStream(ctx: Ctx, tr: Tracer, calls: Calls, w: String): Map[String, Double] = {
    val spark = ctx.spark
    val src = if (w == "pretrain") s"${ctx.args.data}/pretrain" else s"${ctx.args.data}/probe_docs"
    val all = spark.read.parquet(s"$src/documents.parquet").select("doc_id", "text")
      .filter(col("doc_id") < 800)
    val bench = all.filter(col("doc_id") < 20)
    val base = all.filter(col("doc_id") >= 20 && col("doc_id") < 600)
    val batches = all.filter(col("doc_id") >= 600).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq.grouped(100).toSeq
    val dir = s"${ctx.args.work}/ministream"
    val h = new StreamHarness(spark, base, bench, dir, "pb_midx", ctx.args.cores)
    tr.clearProgress()
    try {
      calls.secs("StreamHarness.start")(h.start())
      batches.foreach(b => calls.secs("stream batch")(h.send(b)))
    } finally h.stop()
    val files = h.indexFiles()
    h.dropTables()
    tr.drain()
    val progress = tr.progressSnapshot
    val replay = Replay(spark, bench, batches, dir, "pb_mridx", ctx.args.cores,
      () => ctx.release())
    streamMetrics(progress, replay, files)
  }
}
