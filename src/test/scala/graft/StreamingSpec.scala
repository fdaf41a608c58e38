package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.SessionStream
import graft.streaming.SessionStream.StreamEvent

/** Drives the streaming operators through MemoryStream micro-batches,
  * including watermark-driven session close via event-time timeout. */
class StreamingSpec extends SparkTestBase {

  private def ev(user: Long, sec: Long, et: String = "message"): StreamEvent =
    StreamEvent(user, new Timestamp(sec * 1000), et, 1.0)

  test("streaming sessionization closes sessions on gap and on watermark timeout") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val query = SessionStream.sessionize(input.toDS(), gapMs = 30000)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // batch 1: one session (100s,105s) then a gap>30s -> closes it
      // inline (timestamps start well past epoch 0: an event at
      // exactly the initial watermark would be dropped as late)
      input.addData(ev(1, 100), ev(1, 105), ev(1, 200))
      query.processAllAvailable()
      // batch 2: another gap -> closes (200,200)
      input.addData(ev(1, 300))
      query.processAllAvailable()
      // batch 3+: unrelated user far in the future pushes the
      // watermark past 300+30 -> the open (300,300) session times out
      input.addData(ev(2, 1100))
      query.processAllAvailable()
      input.addData(ev(2, 2100))
      query.processAllAvailable()

      val got = spark.table("sessions_out")
        .filter(col("userId") === 1)
        .orderBy("startMs")
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == Seq((100000L, 105000L, 2L), (200000L, 200000L, 1L), (300000L, 300000L, 1L)))
    } finally query.stop()
  }

  test("in-watermark late events merge with each other exactly as batch would") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val query = SessionStream.sessionize(input.toDS(), gapMs = 30000, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      input.addData(ev(1, 1000), ev(1, 1005))
      query.processAllAvailable()
      // late events >gap BEFORE the open session: they form a span of
      // their own behind it (batch would merge them into one session)
      input.addData(ev(1, 900), ev(1, 890))
      query.processAllAvailable()
      // a third late event within gap of that span joins it too
      input.addData(ev(1, 870))
      query.processAllAvailable()
      // advance the watermark past both spans' end+gap -> finalize
      input.addData(ev(2, 2000))
      query.processAllAvailable()
      input.addData(ev(2, 3000))
      query.processAllAvailable()

      val got = spark.table("late_out")
        .filter(col("userId") === 1)
        .orderBy("startMs")
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      // batch over {870,890,900,1000,1005} with gap 30s: two sessions
      assert(got == Seq((870000L, 900000L, 3L), (1000000L, 1005000L, 2L)))
    } finally query.stop()
  }

  test("streaming sessionize equals batch Sessionize on the real event table") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.functions.EventFunctions
    import graft.operators.Sessionize

    val gapMs = 1800L * 1000L
    val evs = EventFunctions.norm(Tables.events(spark, sfDir))
      .select(col("user_id"), (col("ts_us") / 1000).cast("long").as("ms"), col("event_type"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), new Timestamp(r.getLong(1)), r.getString(2), 0.0))
      .sortBy(_.ts.getTime)

    val input = MemoryStream[StreamEvent]
    val query = SessionStream.sessionize(input.toDS(), gapMs)
      .writeStream.format("memory").queryName("equiv_out").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      query.processAllAvailable()
      // advance the watermark far past everything so open sessions close
      input.addData(StreamEvent(-1L, new Timestamp(evs.map(_.ts.getTime).max + 10L * gapMs), "x", 0.0))
      query.processAllAvailable()
      input.addData(StreamEvent(-1L, new Timestamp(evs.map(_.ts.getTime).max + 20L * gapMs), "x", 0.0))
      query.processAllAvailable()

      val streamed = spark.table("equiv_out")
        .filter(col("userId") >= 0)
        .select(col("userId"), col("startMs"), col("endMs"), col("nEvents"))

      val batch = Sessionize(
        EventFunctions.norm(Tables.events(spark, sfDir))
          .withColumn("ms", (col("ts_us") / 1000).cast("long")),
        "user_id", "ms", "event_id", gapMs)
        .groupBy(col("user_id").as("userId"), col("session_id"))
        .agg(min(col("ms")).as("startMs"), max(col("ms")).as("endMs"),
          count(lit(1)).as("nEvents"))
        .select(col("userId"), col("startMs"), col("endMs"), col("nEvents"))

      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streaming and batch sessionization disagree")
    } finally query.stop()
  }

  test("streaming content dedup: same text under different ids passes once within the horizon") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDedup
    import graft.streaming.StreamDedup.Doc
    def doc(id: Long, sec: Long, text: String): Doc =
      Doc(id, new Timestamp(sec * 1000), text)
    val input = MemoryStream[Doc]
    val query = StreamDedup.distinctByContent(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("cdedup_out").outputMode("append").start()
    try {
      // batch 1: two distinct texts + an in-batch content dup under a
      // DIFFERENT doc id (the case an id-keyed dedup cannot catch)
      input.addData(doc(1, 100, "alpha"), doc(2, 100, "beta"), doc(3, 101, "alpha"))
      query.processAllAvailable()
      // batch 2: cross-batch content redelivery within the horizon
      input.addData(doc(4, 103, "beta"), doc(5, 104, "gamma"))
      query.processAllAvailable()
      // push the watermark far past the "alpha" state entry...
      input.addData(doc(6, 1000, "delta"))
      query.processAllAvailable()
      // ...then the SAME content arrives again, later than the
      // watermark delay: state for it is gone, it is admitted again —
      // the documented at-scale trade of the watermark variant
      input.addData(doc(7, 1001, "alpha"))
      query.processAllAvailable()
      val got = spark.table("cdedup_out")
        .select("docId").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 5L, 6L, 7L),
        s"expected first-arrival-per-content within horizon, got $got")
    } finally query.stop()
  }

  test("streaming image dedup: pixel-identical payloads collide across container formats") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDedup
    import graft.streaming.StreamDedup.Img
    def img(px: (Int, Int) => Int, fmt: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32) im.setRGB(x, y, px(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    def grad(seed: Int)(x: Int, y: Int): Int = {
      val g = (x * 8 + y * 3 + seed) % 256
      (g << 16) | (g << 8) | g
    }
    val aPng = img(grad(0), "png")
    val aBmp = img(grad(0), "bmp") // same pixels, different container bytes
    val bPng = img(grad(97), "png")
    assert(!java.util.Arrays.equals(aPng, aBmp))
    val input = MemoryStream[Img]
    val query = StreamDedup.distinctByImageHash(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("idedup_out").outputMode("append").start()
    try {
      input.addData(Img(1L, new Timestamp(100000), aPng), Img(2L, new Timestamp(100100), bPng))
      query.processAllAvailable()
      // cross-batch: the BMP re-encode of image A must be dropped;
      // junk payload is dropped (undecodable), image B's dup too
      input.addData(Img(3L, new Timestamp(101000), aBmp),
        Img(4L, new Timestamp(101100), Array.tabulate(16)(_.toByte)),
        Img(5L, new Timestamp(101200), bPng))
      query.processAllAvailable()
      val got = spark.table("idedup_out").select("img_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L), s"expected first arrival per pixel-content, got $got")
    } finally query.stop()
  }

  test("streaming audio dedup: same recording collides across containers and gain") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDedup
    import graft.streaming.StreamDedup.Img
    def enc(samples: Array[Int], tpe: javax.sound.sampled.AudioFileFormat.Type,
            be: Boolean): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, be)
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        if (be) { pcm(2 * i) = ((s >> 8) & 0xff).toByte; pcm(2 * i + 1) = (s & 0xff).toByte }
        else { pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        tpe, bos)
      bos.toByteArray
    }
    val rnd = new scala.util.Random(13)
    val a = Array.fill(1500)(rnd.nextInt(16001) - 8000)
    val b = Array.fill(1500)(rnd.nextInt(16001) - 8000)
    import javax.sound.sampled.AudioFileFormat.Type.{AIFF, WAVE}
    val input = MemoryStream[Img]
    val query = StreamDedup.distinctByAudioHash(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("adedup_out").outputMode("append").start()
    try {
      input.addData(Img(1L, new Timestamp(100000), enc(a, WAVE, be = false)))
      query.processAllAvailable()
      // cross-batch: AIFF container + exact x2 gain of the same
      // recording are dropped; independent noise passes; junk dropped
      input.addData(
        Img(2L, new Timestamp(101000), enc(a, AIFF, be = true)),
        Img(3L, new Timestamp(101100), enc(a.map(_ * 2), WAVE, be = false)),
        Img(4L, new Timestamp(101200), enc(b, WAVE, be = false)),
        Img(5L, new Timestamp(101300), Array.tabulate(8)(_.toByte)))
      query.processAllAvailable()
      val got = spark.table("adedup_out").select("clip_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 4L), s"expected first arrival per recording, got $got")
    } finally query.stop()
  }

  test("streaming decontamination flags exactly the batch-contaminated docs, once each") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{StreamClean, StreamDedup}
    import graft.streaming.StreamDedup.Doc
    val benchDocs = Seq(
      (1L, "the secret benchmark question about dragons appears here"),
      (2L, "another held out evaluation prompt nobody should train on"))
      .toDF("doc_id", "text")
    val bench = StreamClean.benchHashes(benchDocs)
    // 100: shares a 5-gram span with bench doc 1; 101: clean;
    // 102: shares with bench doc 2; 100 arrives twice (one alert)
    val contaminated = "prefix words then the secret benchmark question about dragons appears here too"
    val clean = "completely unrelated text with no overlap at all in any window"
    val shared2 = "should train on another held out evaluation prompt nobody should train on"
    val input = MemoryStream[Doc]
    val q = StreamClean.contaminatedStream(input.toDS(), bench, n = 5, "10 seconds")
      .writeStream.format("memory").queryName("decon_out").outputMode("append").start()
    try {
      input.addData(Doc(100L, new Timestamp(100000), contaminated),
        Doc(101L, new Timestamp(100100), clean))
      q.processAllAvailable()
      input.addData(Doc(102L, new Timestamp(101000), shared2),
        Doc(100L, new Timestamp(101100), contaminated))
      q.processAllAvailable()
      val got = spark.table("decon_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(100L, 102L), s"quarantine stream: $got")
      // batch agreement: q71's operator flags the same set
      val batchDocs = Seq((100L, contaminated), (101L, clean), (102L, shared2))
        .toDF("doc_id", "text")
        .unionByName(benchDocs.withColumn("doc_id", col("doc_id") - 10))
      val batch = graft.operators.Dedup.contaminated(
        batchDocs, col("doc_id") < 0, n = 5)
        .filter(col("n_shared") > 0).select("doc_id").as[Long].collect().toSet
      assert(batch == Set(100L, 102L), s"batch flagged: $batch")
    } finally q.stop()
  }

  test("streaming clean-corpus equals batch q78 on a replayed document stream") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{StreamClean, StreamDedup}
    import graft.streaming.StreamDedup.Doc
    // real corpus rows + planted rows exercising every stage: an exact
    // dup under a different id, a repetition-rule casualty, and PII
    val real = Tables.documents(spark, sfDir).orderBy("doc_id").limit(40)
      .select("doc_id", "text").as[(Long, String)].collect()
    val planted = Seq(
      1000L -> real.head._2,                                  // dup of doc 0
      1001L -> ("spam " * 30).trim,                           // fails gopher keep
      // long enough that the top-2-gram rule (cov*5 <= tot) passes:
      // a short doc's single longest 2-gram alone covers > 1/5 of it
      1002L -> ("write to eve+pi@example.org at 10.0.0.7 or 555-123-4567 ok " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
        "mu nu xi omicron rho sigma tau upsilon phi chi psi omega end"))
    val rows = (real.toSeq ++ planted).zipWithIndex.map { case ((id, text), i) =>
      Doc(id, new Timestamp(100000L + i * 10), text) // arrival follows doc order
    }
    val input = MemoryStream[Doc]
    val query = StreamClean.cleanCorpusStream(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("sclean_out").outputMode("append").start()
    try {
      // replay in micro-batches of 7, all within the watermark horizon
      rows.grouped(7).foreach { g => input.addData(g); query.processAllAvailable() }
      val got = spark.table("sclean_out")
        .select("doc_id", "red_text", "n_tokens")
        .as[(Long, String, Long)].collect().toSet
      val want = graft.operators.Quality.cleanCorpus(
        (real.toSeq ++ planted).toDF("doc_id", "text"))
        .select("doc_id", "red_text", "n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got == want,
        s"stream/batch divergence: extra=${got -- want}, missing=${want -- got}")
      // and the planted rows behaved: dup dropped, spam dropped, PII redacted
      val byId = got.map(t => t._1 -> t._2).toMap
      assert(!byId.contains(1000L) && !byId.contains(1001L))
      assert(byId(1002L).startsWith("write to <EMAIL> at <IP> or <PHONE> ok"))
    } finally query.stop()
  }

  test("streaming clean-corpus with classifier stage equals batch clean+filter") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{StreamClean, StreamDedup}
    import graft.streaming.StreamDedup.Doc
    import graft.operators.Quality
    // fit a real classifier on the corpus (batch job — the model is a
    // versioned artifact the stream receives as a parameter)
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    val st = graft.functions.TextFunctions.textStats(col("text"))
    val enPred = (st.getField("n_stop") / st.getField("n_words")) >= 0.05
    val m = Quality.classifierFit(corpus, enPred)
    val threshold = 0.5
    val real = corpus.orderBy("doc_id").limit(40)
      .as[(Long, String)].collect()
    val rows = real.toSeq.zipWithIndex.map { case ((id, text), i) =>
      Doc(id, new Timestamp(100000L + i * 10), text)
    }
    val input = MemoryStream[Doc]
    val query = StreamClean.cleanCorpusStream(input.toDS(), "10 seconds",
        classifier = Some((m, threshold)))
      .writeStream.format("memory").queryName("sclean_cls_out")
      .outputMode("append").start()
    try {
      rows.grouped(7).foreach { g => input.addData(g); query.processAllAvailable() }
      val got = spark.table("sclean_cls_out")
        .select("doc_id", "red_text", "n_tokens")
        .as[(Long, String, Long)].collect().toSet
      // batch composition: q78's clean, then the q97 filter on the
      // redacted text at the same threshold
      val cleaned = graft.operators.Quality.cleanCorpus(
        real.toSeq.toDF("doc_id", "text"))
      val want = cleaned
        .withColumn("p_quality", Quality.classifierScore(col("red_text"), m))
        .filter(col("p_quality") >= threshold)
        .select("doc_id", "red_text", "n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got == want,
        s"stream/batch classifier divergence: extra=${got -- want}, missing=${want -- got}")
      // the stage actually gates: some cleaned doc scored under the
      // threshold (otherwise this test proves nothing)
      assert(got.size < cleaned.count(),
        "threshold never fired — pick a corpus slice where it does")
      // and the emitted p_quality column matches the batch scorer
      val p = spark.table("sclean_cls_out").select("doc_id", "p_quality")
        .as[(Long, Double)].collect().toMap
      assert(p.values.forall(v => v >= threshold && v <= 1.0))
    } finally query.stop()
  }

  test("boundary semantics: exact-gap late event bridges two spans; ts == watermark is dropped") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    // gap 30s, delay 60s: spans {100} and {140} stay live (wm=80);
    // the late event at 130 sits EXACTLY end+gap from {100} (inclusive
    // merge, matching batch) and within gap of {140} -> bridges both.
    // The second user pins the drop side: an event at exactly the
    // current watermark must NOT appear in any session.
    val query = SessionStream.sessionize(input.toDS(), gapMs = 30000, watermarkDelay = "60 seconds")
      .writeStream.format("memory").queryName("boundary_out").outputMode("append").start()
    try {
      input.addData(ev(1, 100), ev(1, 140))
      query.processAllAvailable()
      input.addData(ev(1, 130))
      query.processAllAvailable()
      // wm is now 80s: this event sits exactly ON it -> dropped late
      input.addData(ev(2, 80))
      query.processAllAvailable()
      input.addData(ev(2, 1000))
      query.processAllAvailable()
      input.addData(ev(2, 2000))
      query.processAllAvailable()

      val u1 = spark.table("boundary_out")
        .filter(col("userId") === 1)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(u1 == Seq((100000L, 140000L, 3L)))
      val u2 = spark.table("boundary_out")
        .filter(col("userId") === 2 && col("startMs") === 80000L)
        .count()
      assert(u2 == 0, "event at ts == watermark must be dropped, not sessionized")
    } finally query.stop()
  }

  test("stream-stream interval join pairs messages with later same-user commands") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def v(user: Long, sec: Long, value: Double) =
      StreamEvent(user, new Timestamp(sec * 1000), "x", value)
    val msgs = MemoryStream[StreamEvent]
    val cmds = MemoryStream[StreamEvent]
    val query = SessionStream.msgCmdIntervalJoin(msgs.toDS(), cmds.toDS(), lookbackSec = 60)
      .writeStream.format("memory").queryName("assoc_out").outputMode("append").start()
    try {
      // user 1: messages at 100/150 fall in the 60s window before the
      // command at 160; the message at 50 does not; user 2's command
      // must not see user 1's messages
      msgs.addData(v(1, 50, 3), v(1, 100, 1), v(1, 150, 2), v(2, 155, 7))
      cmds.addData(v(1, 160, 9), v(2, 170, 8))
      query.processAllAvailable()

      val got = spark.table("assoc_out")
        .select("userId", "m_value", "c_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got == Set((1L, 1.0, 9.0), (1L, 2.0, 9.0), (2L, 7.0, 8.0)))
    } finally query.stop()
  }

  test("tumbling-window aggregation finalizes windows behind the watermark") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEvent]
    val query = SessionStream.windowedCounts(input.toDS(), "1 minute")
      .writeStream.format("memory").queryName("windows_out").outputMode("append").start()
    try {
      input.addData(ev(1, 10), ev(1, 20), ev(2, 30, "command"), ev(1, 70))
      query.processAllAvailable()
      // push the watermark far past the first windows
      input.addData(ev(2, 500))
      query.processAllAvailable()

      val got = spark.table("windows_out")
        .select("win_start", "eventType", "n")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
        .toSet
      assert(got.contains((0L, "message", 2L)))
      assert(got.contains((0L, "command", 1L)))
      assert(got.contains((60L, "message", 1L)))
    } finally query.stop()
  }

  test("q97 classifier filter composes onto a stream (pure projection, no state)") {
    // The in-row scorer is one projection — no explode, no join, no
    // aggregate — so it drops onto an unbounded stream with no
    // watermark or state store at all. Fit on a BATCH exemplar
    // corpus (the offline half), filter the live stream (the online
    // half): the QualityClassifierSpec planted-preference corpus,
    // replayed as micro-batches.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDedup.Doc
    val corpus = Seq(
      (0L, "the cat is on the mat and it is warm"),
      (1L, "it was the best of times and the worst of times"),
      (2L, "she is at the door and he is not"),
      (3L, "to be or not to be that is the question"),
      (4L, "zxq vvk jjr pqm wzx nnt"),
      (5L, "qqa bbz ccx ddw eev ffu"),
      (6L, "ggh hhi iij jjk kkl llm"),
      (7L, "mzp nzq ozr pzs qzt rzu")).toDF("doc_id", "text")
    val st = graft.functions.TextFunctions.textStats(col("text"))
    val m = graft.operators.Quality.classifierFit(corpus,
      (st.getField("n_stop") / st.getField("n_words")) >= 0.05)
    val input = MemoryStream[Doc]
    val query = graft.operators.Quality
      .classifierFilter(input.toDS().toDF(), m)
      .select("docId", "p_quality")
      .writeStream.format("memory").queryName("q97_stream_out")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(100L, new Timestamp(1000), "the dog is in the house and it is dry"),
        Doc(101L, new Timestamp(2000), "zxq vvk qqa bbz ggh hhi"))
      query.processAllAvailable()
      input.addData(
        Doc(102L, new Timestamp(3000), "it is the best day and the sun is out"))
      query.processAllAvailable()
      val kept = spark.table("q97_stream_out")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(100L, 102L),
        s"stream filter must keep the exemplar-like docs only, got $kept")
    } finally query.stop()
  }

  test("persisted-table streaming capstone: appends grow the tables, output equals batch-over-union") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.queries.PipelineOps
    def ws(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    val benchText = "the held out benchmark passage with forty plus " +
      "characters of exact evaluation text content appearing verbatim here"
    val bench = Seq((-1L, benchText)).toDF("doc_id", "text")
    val base = ((1 to 20).map(i => (1000L + i) -> ws(s"b$i ", 40)) :+
      (2001L -> ws("alpha", 40))).toDF("doc_id", "text")
    val d1 = Seq(
      5001L -> ws("alpha", 40),  // exact dup of base -> drop
      5002L -> ws("gamma", 40),  // fresh -> keep, must be indexed
      5003L -> (ws("fresh", 20) + " " + benchText.take(60) + " " + ws("tail", 20))
    )                            // contaminated -> keep stripped + quarantine
    val d2 = Seq(
      6001L -> ws("gamma", 40),  // cross-batch exact dup of 5002 -> drop
      6002L -> ((1 to 38).map(i => s"gamma$i") ++ Seq("qq1", "qq2")).mkString(" "),
      //                         cross-batch NEAR dup of 5002 -> drop
      6003L -> ws("delta", 40))  // fresh -> keep
    val tmp = java.nio.file.Files.createTempDirectory("graft_scap_p").toString
    val prefix = "graft_scap_p"
    try {
      val idx0 = PipelineOps.persistBaseIndexes(
        PipelineOps.baseIndexes(base, bench), s"$tmp/idx", prefix = prefix)
      val fp0 = idx0.rawFp.count(); val bands0 = idx0.deconBands.count()
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamCapstone.incrementalCapstoneStreamPersisted(
        input.toDF().toDF("doc_id", "text"), prefix, bench,
        s"$tmp/out", s"$tmp/quarantine", s"$tmp/ckpt")
      try {
        input.addData(d1: _*); q.processAllAvailable()
        input.addData(d2: _*); q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("clean_text"))
        .as[(Long, String)].collect().toSet
      val batch = PipelineOps.incrementalCapstone(
        PipelineOps.baseIndexes(base, bench),
        (d1 ++ d2).toDF("doc_id", "text"), bench)
        .as[(Long, String)].collect().toSet
      assert(got == batch,
        s"persisted stream != batch-over-union: only-stream=${(got -- batch).map(_._1)}, " +
          s"only-batch=${(batch -- got).map(_._1)}")
      assert(got.map(_._1) == Set(5002L, 5003L, 6003L), s"kept: ${got.map(_._1)}")
      val d3 = got.find(_._1 == 5003L)
      assert(d3.isDefined && !d3.get._2.contains(benchText.take(45)),
        "contaminated doc must survive with its spans stripped")
      val quarantined = spark.read.parquet(s"$tmp/quarantine")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(quarantined == Set(5003L), s"quarantine: $quarantined")
      // the TABLES grew by each batch's delta (its survivors' rows)
      assert(spark.table(s"${prefix}_rawfp").count() > fp0,
        "fp table did not grow")
      assert(spark.table(s"${prefix}_bands").count() > bands0,
        "band table did not grow")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_rawfp")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_bands")
    }
  }
}
