package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Curriculum, Dedup, Diversity, Pin, Pq, Similarity}
import graft.queries.PipelineOps

/** Dev soak probes (test scope): each named body runs one operator
  * family at decade scale and prints `SOAK` lines (stage cardinalities,
  * `SOAK time <label> <s>` walls, EXACT/BROKEN equivalence verdicts).
  * Results are recorded in BENCH_SF10.md.
  *
  * Usage: sbt "Test/runMain graft.Soak <name> [args...]"; missing
  * trailing arguments take the defaults listed in [[soaks]]. The session
  * is `local[N]` with N = `Bench.resolvedCpus` (32 on the host
  * BENCH_SF10.md was recorded on). Data-dir defaults are GenSf outputs
  * (`.bench/sf1`, `.bench/sf10`) relative to the working directory.
  */
object Soak {
  type Body = (SparkSession, Seq[String]) => Unit

  /** name -> (argument defaults, body). */
  val soaks: ListMap[String, (Seq[String], Body)] = ListMap(
    "Ann" -> (Seq(".bench/sf10"), ann),
    "CC" -> (Seq("5000000"), cc),
    "Capstone" -> (Seq(".bench/sf1", "10"), capstone),
    "CorpusOps" -> (Seq(".bench/sf1", "10"), corpusOps),
    "Dedup" -> (Seq(".bench/sf10"), dedup),
    "Incr" -> (Seq("500000"), incr),
    "Incr5M" -> (Seq("5000000"), incr5M),
    "Ivf2" -> (Seq("200000", "2048"), ivf2),
    "IvfPq" -> (Seq("200000", "256"), ivfPq),
    "KnnGraph" -> (Seq(".bench/sf1", "10"), knnGraph),
    "Mis" -> (Seq("5000000"), mis),
    "NearDup" -> (Seq(".bench/sf1", "10"), nearDup),
    "Order" -> (Seq("5000000"), order),
    "Substring" -> (Seq(".bench/sf1", "10"), dupSubstring))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    resolve(name)
    val cpus = Bench.resolvedCpus.toString
    val spark = GraftSession.local(cpus, cpus, logLevel = "ERROR")
    try run(spark, name, args.toSeq.drop(1)) finally spark.stop()
  }

  /** Run soak `name` on `spark`, filling missing trailing arguments
    * from its defaults. */
  def run(spark: SparkSession, name: String, args: Seq[String]): Unit = {
    val (defaults, body) = resolve(name)
    body(spark, args ++ defaults.drop(args.size))
  }

  private def resolve(name: String): (Seq[String], Body) =
    soaks.getOrElse(name, throw new IllegalArgumentException(
      s"unknown soak '$name'; known: ${soaks.keys.mkString(", ")}"))

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"SOAK time $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** `copies` id-shifted copies of `df` (ids shifted by the stride
    * max(id) + 1, every other column kept), in 32 partitions; returns
    * the union and the stride. */
  private def replicate(df: DataFrame, idCol: String, copies: Int): (DataFrame, Long) = {
    val stride = df.agg(max(col(idCol))).collect()(0).getLong(0) + 1
    val rest = df.columns.filter(_ != idCol).map(col)
    val union = (0 until copies).map(k =>
      df.select((col(idCol) + lit(k * stride)).as(idCol) +: rest: _*))
      .reduce(_.unionAll(_))
      .repartition(32)
    (union, stride)
  }

  /** 24-word synthetic document body, distinct per (tag, id). */
  private def body24(tag: Column, id: Column): Column =
    concat_ws(" ", (1 to 24).map(i =>
      concat(tag, lit(s"w$i"), id.cast("string"))): _*)

  /** The held-out benchmark docs of the incremental soaks (20 docs,
    * negative ids, each with 40-char windows a delta could copy). */
  private def benchDocs(spark: SparkSession): DataFrame =
    spark.range(20).select(
      (-col("id") - 1).as("doc_id"),
      concat(lit("held out benchmark passage number "), col("id").cast("string"),
        lit(" with enough characters to carry forty char windows verbatim "),
        body24(lit("bm"), col("id"))).as("text"))

  /** `nVec` vectors around 512 Gaussian centers (noise 0.05): the
    * clustered regime IVF exists for. */
  private def clusteredVectors(spark: SparkSession, nVec: Int): DataFrame = {
    import spark.implicits._
    val Dim = graft.functions.VectorFunctions.Dim
    val nClusters = 512
    val rnd = new scala.util.Random(19)
    val centers = Array.fill(nClusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    spark.range(nVec).mapPartitions { it =>
      it.map { i =>
        val r2 = new scala.util.Random(i * 7919L)
        val c = centers((i % nClusters).toInt)
        (i, c.map(x => x + 0.05f * r2.nextGaussian().toFloat).toSeq)
      }
    }.toDF("vec_id", "embedding")
      .transform(Pin(_, eager = true))
  }

  /** n/5 five-node chain families (1M at n = 5M) plus one planted
    * path of [[pathLen]] edges: the graph shape of the CC and MIS
    * soaks. */
  private def chainsAndPath(spark: SparkSession, n: Long): DataFrame = {
    val fam = spark.range(n).toDF("id").filter(col("id") % 5 =!= 0)
      .select((col("id") - 1).as("a"), col("id").as("b"))
    val path = spark.range(n, n + pathLen(n)).toDF("id")
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    fam.unionAll(path).repartition(32)
  }
  /** 10,000 edges (diameter 10,000), or n when the soak is smaller. */
  private def pathLen(n: Long): Long = math.min(10000L, n)

  /** LSH-ANN bucket cardinalities at a large SF — the evidence that
    * q40's candidate sets stay bounded as the corpus scales (companion
    * to Dedup). Args: [sfDir]. */
  private def ann(spark: SparkSession, args: Seq[String]): Unit = {
    val emb = Tables.embeddings(spark, args(0))
    val n = emb.count()
    println(s"SOAK vectors $n")

    val entries = Similarity.lshEntries(emb)
    val nEntries = timed("ann.index")(entries.count())
    val pops = entries.groupBy(col("tbl"), col("bkey")).agg(count(lit(1)).as("c"))
    val st = pops.agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      expr("percentile_approx(c, 0.99)").as("p99")).collect()(0)
    println(s"SOAK ann entries $nEntries buckets ${st.getLong(0)} " +
      s"max_pop ${st.getLong(1)} p99_pop ${st.getLong(2)}")

    // candidate volume for the 10-query set: rows joined from the
    // query buckets (the annLsh candidate-join output before distinct)
    val qEnt = entries.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkey"))
    val cand = broadcast(qEnt).join(entries, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
    val nCand = timed("ann.candidates")(cand.count())
    val nDistinct = cand.select(col("query_id"), col("vec_id")).distinct().count()
    println(s"SOAK ann cand_rows $nCand distinct_cands $nDistinct " +
      s"per_query ${nDistinct / 10} frac_of_corpus ${nDistinct.toDouble / (10 * n)}")

    timed("q40.end_to_end")(
      Similarity.annLsh(emb, col("vec_id") < 10, k = 5)
        .write.format("noop").mode("overwrite").save())

    // scaled dial: r ≈ log2(N / 1000) planes per table, more tables
    // to recover recall — the configuration the operator scaladoc
    // prescribes for a corpus this size
    val r = math.max(Similarity.PlanesPerTable,
      math.ceil(math.log(n / 1000.0) / math.log(2)).toInt)
    val tables2 = 16
    val e2 = Similarity.lshEntries(emb, tables2, r)
    val pops2 = e2.groupBy(col("tbl"), col("bkey")).agg(count(lit(1)).as("c"))
    val st2 = pops2.agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      expr("percentile_approx(c, 0.99)").as("p99")).collect()(0)
    println(s"SOAK ann2 tables $tables2 planes $r buckets ${st2.getLong(0)} " +
      s"max_pop ${st2.getLong(1)} p99_pop ${st2.getLong(2)}")
    val qe2 = e2.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkey"))
    val cand2 = broadcast(qe2).join(e2, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val nC2 = timed("ann2.candidates")(cand2.count())
    println(s"SOAK ann2 distinct_cands $nC2 per_query ${nC2 / 10} " +
      s"frac_of_corpus ${nC2.toDouble / (10 * n)}")
    // recall vs exact top-5 at this scale
    val brute = Similarity.knnBrute(emb, col("vec_id") < 10, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ann2 = Similarity.annLsh(emb, col("vec_id") < 10, k = 5, tables2, r)
      .select(col("query_id"), col("neighbor_id"))
    val hit = timed("ann2.recall")(brute.intersect(ann2).count())
    println(s"SOAK ann2 recall ${hit}/50")

    // centered planes at the same dial: bucket entropy + candidates
    val e3 = Similarity.lshEntriesCentered(emb, tables2, r)
    val pops3 = e3.groupBy(col("tbl"), col("bkey")).agg(count(lit(1)).as("c"))
    val st3 = pops3.agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      expr("percentile_approx(c, 0.99)").as("p99")).collect()(0)
    println(s"SOAK ann3 centered buckets ${st3.getLong(0)} " +
      s"max_pop ${st3.getLong(1)} p99_pop ${st3.getLong(2)}")
    val qe3 = e3.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkey"))
    val cand3 = broadcast(qe3).join(e3, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val nC3 = timed("ann3.candidates")(cand3.count())
    println(s"SOAK ann3 distinct_cands $nC3 per_query ${nC3 / 10} " +
      s"frac_of_corpus ${nC3.toDouble / (10 * n)}")
    val ann3 = Similarity.annLsh(emb, col("vec_id") < 10, k = 5, tables2, r,
      centered = true).select(col("query_id"), col("neighbor_id"))
    val hit3 = timed("ann3.recall")(brute.intersect(ann3).count())
    println(s"SOAK ann3 recall ${hit3}/50")
  }

  /** The q70 label-propagation loop at the 5M-node decade, structure
    * controlled so the claims under test are isolated from
    * pair-generation:
    *
    *   - 1M five-node chain families (the realistic dense near-dup
    *     case: small components, diameter 4);
    *   - one planted 10,001-node PATH (diameter 10,000 — the
    *     pathological shape that pointer halving must close in
    *     O(log d) rounds where plain propagation needs 10,000);
    *   - storage check: persistent-RDD count after the run stays O(1)
    *     (superseded per-round pins released), not O(rounds).
    *
    * Args: [nodes]. */
  private def cc(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args(0).toLong
    val pairs = chainsAndPath(spark, n)
    val nEdges = pairs.count()
    println(s"SOAK nodes ~${n + pathLen(n)} edges $nEdges (path diameter ${pathLen(n)})")

    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val t0 = System.nanoTime()
    val (labels, rounds) = ConnectedComponents.clustersWithRounds(pairs, "a", "b", maxIter = 40)
    val stats = labels.agg(
      count(lit(1)).as("nodes"),
      countDistinct(col("cluster_id")).as("clusters")).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    println(f"SOAK cc rounds $rounds wall $wall%.1f s " +
      s"nodes ${stats.getLong(0)} clusters ${stats.getLong(1)} " +
      s"persisted $persistedBefore -> $persistedAfter")

    // correctness spot-checks: family labels are block bases, the
    // planted path all labels to its min node
    val famBad = labels.filter(col("node") < n &&
      col("cluster_id") =!= (col("node") - (col("node") % 5))).count()
    val pathBad = labels.filter(col("node") >= n && col("cluster_id") =!= n).count()
    println(s"SOAK cc fam_bad $famBad path_bad $pathBad")
    require(famBad == 0 && pathBad == 0, "cluster labels wrong")
  }

  /** The q96 pretraining capstone at the 500k-doc decade — the whole
    * corpus → training-stream path under 10x replication of sf1's
    * documents (id-shifted, text kept). The capstone composes six
    * already-soaked stages; this run proves the COMPOSITION holds at
    * scale: one wall number for the full path plus the per-stage
    * cardinalities (what survived cleaning, what the decontamination
    * touched, how the split cut, what got packed). Args: [srcSfDir]
    * [copies]. */
  private def capstone(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args(1).toInt
    val base = Tables.documents(spark, args(0))
      .select("doc_id", "text", "source")
    val (corpus, stride) = replicate(base, "doc_id", copies)
    val out = java.nio.file.Files.createTempDirectory("graft_soak_capstone").toString
    corpus.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val n = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"SOAK capstone corpus $n docs (=$copies x $stride)")

    val t0 = System.nanoTime()
    val bins = SparkEntry.queries("q96_pretrain_capstone")(spark, out)
      .collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val rows = bins.map(_.getLong(1)).sum
    val toks = bins.map(_.getLong(2)).sum
    println(f"SOAK capstone wall $wall%.1f s bins ${bins.length} " +
      s"packed_rows $rows packed_tokens $toks")
    // structural invariants at scale (the OrderPipelineSpec checks)
    val binIds = bins.map(_.getLong(0)).sorted.toSeq
    val contiguous = binIds == (0L until bins.length)
    val minDoc = bins.map(_.getLong(3)).min
    println(s"SOAK capstone bins contiguous ${if (contiguous) "EXACT" else "BROKEN"} " +
      s"min_doc $minDoc (bench excluded: ${minDoc >= PipelineOps.BenchDocs})")
  }

  /** The round-11 corpus operators under C× replication of the sf1
    * documents table (ids shifted, text and source kept) — the decade
    * check that their scale shapes hold:
    *
    *   - q87 tf·idf: df and N both scale by C, so N DIV df — and with
    *     it every idf, score, and per-doc top-k — is INVARIANT: each
    *     replica must get exactly its base doc's keyword list, and the
    *     cost must stay ~linear (the counting path is one int64
    *     exchange; nothing quadratic to trip).
    *   - q89 source overlap: distinct (source, h) collapses replicas
    *     BEFORE the self-join, so the matrix must be IDENTICAL to the
    *     single-copy matrix and the join cost must not grow with C.
    *   - q85 LM features: model fit and scoring are one bounded
    *     aggregation + broadcast joins — cost ~linear, model row count
    *     invariant (same buckets occupied).
    *
    * Args: [srcSfDir] [copies]. */
  private def corpusOps(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args(1).toInt
    val base = Tables.documents(spark, args(0))
      .select("doc_id", "text", "source")
    val (replicated, stride) = replicate(base, "doc_id", copies)
    val corpus = replicated.cache()
    println(s"SOAK docs ${corpus.count()} (=$copies x $stride)")

    // --- q87 tf-idf ---
    val kw1 = timed("tfidf on 1 copy")(
      graft.operators.Keywords.tfidfTopK(base, 3).collect())
    val kwC = timed(s"tfidf on $copies copies")(
      graft.operators.Keywords.tfidfTopK(corpus, 3).collect())
    println(s"SOAK tfidf rows ${kw1.length} -> ${kwC.length}")
    val baseSet = kw1.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val repProjected = kwC.map(r =>
      (r.getLong(0) % stride, r.getLong(1), r.getString(2))).toSet
    println(s"SOAK tfidf per-copy invariance: " +
      (if (repProjected == baseSet && kwC.length == copies * kw1.length) "EXACT"
       else s"DIVERGED (${repProjected.diff(baseSet).take(3)})"))

    // --- q89 source overlap ---
    def overlap(docs: DataFrame) = {
      val g = docs.select(col("source"), explode(
        graft.plans.ShingleHashes(trim(col("text")), 5, Dedup.P)).as("h"))
        .distinct()
        .repartition(col("h"))
      g.as("a").hint("shuffle_hash")
        .join(g.as("b"), col("a.h") === col("b.h") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    }
    val ov1 = timed("overlap on 1 copy")(overlap(base).collect())
    val ovC = timed(s"overlap on $copies copies")(overlap(corpus).collect())
    val m1 = ov1.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val mC = ovC.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    println(s"SOAK overlap matrix invariance: ${if (m1 == mC) "EXACT" else "DIVERGED"}")

    // --- q93 CDC chunks ---
    val cd1 = timed("cdc on 1 copy")(
      Dedup.cdcChunkStats(base.select("doc_id", "text")).collect())
    val cdC = timed(s"cdc on $copies copies")(
      Dedup.cdcChunkStats(corpus.select("doc_id", "text")).collect())
    // under exact replication every replica's chunk multiset equals
    // its base doc's, and every chunk is corpus-duplicated: n_chunks
    // projects exactly, dup_chunks == n_chunks on every row
    val cn1 = cd1.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val projOk = cdC.forall(r => cn1(r.getLong(0) % stride) == r.getLong(1))
    val allDup = cdC.forall(r => r.getLong(2) == r.getLong(1))
    println(s"SOAK cdc rows ${cd1.length} -> ${cdC.length}; " +
      s"n_chunks per-copy ${if (projOk) "EXACT" else "DIVERGED"}; " +
      s"all-dup under replication: ${if (allDup) "EXACT" else "DIVERGED"}")

    // --- q86 BPE production trainer + encoder ---
    // trainLocal: ONE distributed vocab aggregation then the local
    // incremental merge loop — the 5k-merge table that train()'s
    // per-merge jobs would take hours over lands in seconds-to-
    // minutes. Replication invariance: counts scale by C uniformly,
    // so the merge table must be IDENTICAL to the single-copy one.
    val mergesBase = timed("bpe trainLocal 5000 merges on 1 copy")(
      graft.operators.BpeTrain.trainLocal(base, 5000))
    val mergesC = timed(s"bpe trainLocal 5000 merges on $copies copies")(
      graft.operators.BpeTrain.trainLocal(corpus, 5000))
    println(s"SOAK bpe merges ${mergesBase.size}; replication " +
      (if (mergesBase == mergesC) "EXACT" else "DIVERGED"))
    // distributed-loop equality at soak scale for a 30-merge prefix
    val dist30 = timed("bpe distributed train 30 rounds")(
      graft.operators.BpeTrain.train(corpus, 30))
    println(s"SOAK bpe trainLocal prefix == train(30): " +
      (if (mergesC.take(30) == dist30) "EXACT" else "DIVERGED"))
    // the production encode path: full 5k-merge table, one pass
    val tokC = timed(s"bpe encodeBulk 5k merges on $copies copies")(
      graft.operators.BpeTrain.encodeBulk(corpus, "doc_id", "text", mergesC)
        .agg(sum(size(col("tokens")))).collect()(0).getLong(0))
    println(s"SOAK bpe tokens bulk=$tokC")

    // --- q85 LM features ---
    val st = graft.functions.TextFunctions.textStats(col("text"))
    val enPred = (st.getField("n_stop") / st.getField("n_words")) >= 0.05
    val f1 = timed("lm features on 1 copy")(
      graft.operators.LangModel.pplFeatures(base, enPred).count())
    val fC = timed(s"lm features on $copies copies")(
      graft.operators.LangModel.pplFeatures(corpus, enPred).count())
    println(s"SOAK lm rows $f1 -> $fC")
  }

  /** Per-stage cardinalities and wall times of the q36 (MinHash/LSH)
    * and q37 (SimHash) dedup pipelines at a large generated SF — the
    * measured evidence that (a) the stop-shingle guard's broadcast side
    * stays bounded independent of corpus size and (b) candidate pairs
    * grow linearly with documents, not quadratically.
    *
    * Bucket-pair counts are computed by aggregation (Σ pop·(pop−1)/2
    * over buckets) — the exact output size of the band self-join
    * without paying for the join twice. Args: [sfDir].
    */
  private def dedup(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args(0)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val nDocs = docs.count()
    println(s"SOAK docs $nDocs")

    // ---- q36 MinHash/LSH stages -----------------------------------
    val threshold = (nDocs / 10).max(1L)
    val raw = Dedup.shingleHashRows(docs)
    val nShingleRows = timed("q36.shingle_rows")(raw.count())
    println(s"SOAK q36 shingle_rows $nShingleRows (threshold df>$threshold)")
    // phase-1 guard sliver: per-hash ROW counts above the bound — this
    // is the set that must stay broadcastable at any corpus size
    // (bounded by rows/threshold, independent of nDocs)
    val rcHot = raw.groupBy(col("h")).agg(count(lit(1)).as("rc"))
      .filter(col("rc") > threshold).count()
    // phase-2 exact hot set (DF > threshold) — subset of phase 1
    val dfHot = raw.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df_"))
      .filter(col("df_") > threshold).count()
    println(s"SOAK q36 guard rc_hot $rcHot df_hot $dfHot bound ${nShingleRows / threshold}")

    val sig = Dedup.withSignatureFromHashes(
      Dedup.shingleHashRows(docs, maxDocFreq = Some(threshold)))
      .transform(Pin(_))
    val nSig = timed("q36.signatures")(sig.count())
    val bands = Dedup.lshBuckets(sig)
    val pops = bands.groupBy(col("b"), col("bkey")).agg(count(lit(1)).as("c"))
    val stats = pops.agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      sum(col("c") * (col("c") - 1) / 2).as("cand_pairs")).collect()(0)
    println(s"SOAK q36 signatures $nSig band_rows ${nSig * Dedup.Bands} " +
      s"buckets ${stats.getLong(0)} max_pop ${stats.getLong(1)} " +
      s"cand_pairs ${stats.getDouble(2).toLong}")
    val pairs36 = timed("q36.pairs")(Dedup.minhashPairsOwned(sig).count())
    println(s"SOAK q36 final_pairs $pairs36")
    // q70 tail at scale: pair list -> clusters (min-label propagation)
    val clusters = timed("q36.clusters")(
      ConnectedComponents.clusters(Dedup.minhashPairsOwned(sig))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("clusters"), max(col("sz")).as("max_sz"),
          sum(col("sz")).as("nodes")).collect()(0))
    println(s"SOAK q70 clusters ${clusters.getLong(0)} " +
      s"max_size ${clusters.getLong(1)} clustered_nodes ${clusters.getLong(2)}")

    // ---- q37 SimHash stages ---------------------------------------
    val base = docs
      .select(col("doc_id"), Dedup.simhash60(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
    val nBase = timed("q37.base")(base.count())
    val combos = Dedup.SimPairCombos.zipWithIndex.map { case ((i, j), c) =>
      val (s1, w1) = (Dedup.SimBlockShifts(i), Dedup.SimBlockWidths(i))
      val (s2, w2) = (Dedup.SimBlockShifts(j), Dedup.SimBlockWidths(j))
      struct(lit(c).as("b"), expr(
        s"(shiftright(simhash, $s1) % ${1L << w1}) * ${1L << w2}" +
          s" + (shiftright(simhash, $s2) % ${1L << w2})").as("bkey"))
    }
    val sbands = base
      .select(col("doc_id"), explode(array(combos: _*)).as("pc"))
      .select(col("pc.b").as("b"), col("pc.bkey").as("bkey"))
    val spops = sbands.groupBy(col("b"), col("bkey")).agg(count(lit(1)).as("c"))
    val sstats = spops.agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      sum(col("c") * (col("c") - 1) / 2).as("cand_pairs")).collect()(0)
    println(s"SOAK q37 base $nBase band_rows ${nBase * Dedup.SimPairCombos.size} " +
      s"buckets ${sstats.getLong(0)} max_pop ${sstats.getLong(1)} " +
      s"cand_pairs ${sstats.getDouble(2).toLong}")
    // the hot-bucket cap (sf10 lesson): candidates and pairs with
    // buckets > cap dropped, at the loose (12) and web-scale (3)
    // hamming dials
    val cap = 1000L
    val coldStats = spops.filter(col("c") <= cap).agg(
      count(lit(1)).as("buckets"), max(col("c")).as("max_pop"),
      sum(col("c") * (col("c") - 1) / 2).as("cand_pairs")).collect()(0)
    val hotBuckets = sstats.getLong(0) - coldStats.getLong(0)
    println(s"SOAK q37 cap=$cap hot_buckets $hotBuckets " +
      s"cold_cand_pairs ${coldStats.getDouble(2).toLong} " +
      s"cold_max_pop ${coldStats.getLong(1)}")
    val pairsCapped12 = timed("q37.pairs_cap1000_h12")(
      Dedup.simhashPairs(base, maxHamming = 12, maxBucketPop = Some(cap)).count())
    println(s"SOAK q37 capped_pairs_h12 $pairsCapped12")
    val pairsCapped3 = timed("q37.pairs_cap1000_h3")(
      Dedup.simhashPairs(base, maxHamming = 3, maxBucketPop = Some(cap)).count())
    println(s"SOAK q37 capped_pairs_h3 $pairsCapped3")

    // ---- end-to-end headline q36 at this SF (q37's headline output
    // is the uncapped pair listing — 2.1e9 rows at sf10, the measured
    // quadratic the cap exists to bound; not run end-to-end here) ----
    for (name <- Seq("q36_dedup_minhash")) {
      timed(s"$name.warm")(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      timed(s"$name.timed")(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
    }
  }

  /** The INCREMENTAL capstone at the daily-ingest decade — 500k-doc
    * base, 5k-doc delta (half exact dups of base, some near-dups, rest
    * fresh). Records: the one-time base index build, the per-delta
    * incremental wall (the number a daily job pays), the batch-rerun
    * wall it replaces, and the equivalence check (incremental == batch
    * restricted to delta). Args: [baseDocs]. */
  private def incr(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args(0).toLong
    val bench = benchDocs(spark).transform(Pin(_, eager = true))
    val base = spark.range(n).select(col("id").as("doc_id"),
      body24(lit("b"), col("id")).as("text"))
      .transform(Pin(_, eager = true))
    // delta ids above base: 50% exact base dups, 10% near-dups of a
    // base doc (same words, two swapped), 40% fresh
    val delta = spark.range(5000).select((col("id") + n).as("doc_id"),
      when(col("id") % 10 < 5, body24(lit("b"), col("id") * 97L % n))
        .when(col("id") % 10 < 6,
          concat(body24(lit("b"), col("id") * 31L % n), lit(" xtra1 xtra2")))
        .otherwise(body24(lit("f"), col("id"))).as("text"))
      .transform(Pin(_, eager = true))
    println(s"SOAK incr base ${base.count()} delta ${delta.count()}")

    val idx = timed("base index build (one-time)") {
      val i = PipelineOps.baseIndexes(base, bench)
      val pinned = PipelineOps.BaseIndexes(
        Pin(i.rawFp, eager = true), Pin(i.deconBands, eager = true))
      println(s"SOAK incr index fp ${pinned.rawFp.count()} bands ${pinned.deconBands.count()}")
      pinned
    }
    val inc = timed("incremental capstone (per-delta cost)")(
      Pin(PipelineOps.incrementalCapstone(idx, delta, bench), eager = true))
    val nInc = inc.count()
    val batch = timed("batch front rerun on base+delta (what it replaces)")(
      Pin(PipelineOps.frontSurvivors(base.unionByName(delta), bench)
        .filter(col("doc_id") >= n), eager = true))
    val nBatch = batch.count()
    val mism = inc.unionAll(batch)
      .groupBy(col("doc_id"), col("clean_text"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
    println(s"SOAK incr survivors $nInc batch-restricted $nBatch mismatches $mism " +
      (if (mism == 0 && nInc == nBatch) "EXACT" else "BROKEN"))
  }

  /** The FULL daily-ingest deployment at decade scale — 5M-doc base
    * (10x Incr), PERSISTED bucketed indexes, THREE 5k-doc daily deltas
    * each appended to the tables, the nightly compaction, and the
    * streaming-capstone replay of the same three deltas. Proves, with
    * timings printed for BENCH_SF10.md:
    *
    *  - per-delta cost stays FLAT as the index grows (each delta is
    *    delta-sized work + bucketed index probes — the base is never
    *    reshuffled);
    *  - index growth is delta-sized (row/file counts printed per append);
    *  - compaction preserves rows and restores one file set per bucket;
    *  - the streamed replay (MemoryStream micro-batches through
    *    StreamCapstone, on its own persisted copy of the base indexes)
    *    emits EXACTLY the batch path's survivors.
    *
    * Delta mix per day: 50% exact dups of base, 10% near-dups of base,
    * 10% exact dups of the PREVIOUS delta's fresh docs (cross-delta
    * growth must catch these), 30% fresh. Deltas are 5k docs, or a
    * tenth of the base when that is smaller.
    *
    * Args: [baseDocs]; run with SPARK_DRIVER_MEM=24g at 5M.
    */
  private def incr5M(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val n = args(0).toLong
    val deltaSize = math.min(5000L, n / 10)
    // NO Pin on base/bench: StreamCapstone owns the session's pin
    // hygiene while running (it unpersists everything outside its
    // keep-set), and a dropped localCheckpoint pin is UNRECOMPUTABLE;
    // both frames are cheap range arithmetic anyway.
    val bench = benchDocs(spark)
    val base = spark.range(n).select(col("id").as("doc_id"),
      body24(lit("b"), col("id")).as("text"))

    // day k's delta (ids strictly above everything before it): the
    // previous-delta dups reference day k-1's FRESH band (id%10>=7),
    // which survives, so day k's dup must drop against the APPENDED
    // index rows, not the base's
    def deltaRows(k: Int): Seq[(Long, String)] = {
      val off = n + (k - 1) * deltaSize
      val prevOff = n + (k - 2) * deltaSize
      spark.range(deltaSize).select((col("id") + off).as("doc_id"),
        when(col("id") % 10 < 5, body24(lit("b"), col("id") * 97L % n))
          .when(col("id") % 10 < 6,
            concat(body24(lit("b"), col("id") * 31L % n), lit(" xtra1 xtra2")))
          .when(col("id") % 10 < 7 && lit(k) > 1,
            body24(lit("f"), lit(prevOff - n) + col("id") - (col("id") % 10) + 7))
          .otherwise(body24(lit("f"), lit(off - n) + col("id"))).as("text"))
        .as[(Long, String)].collect().toSeq
    }
    val deltas = (1 to 3).map(k => k -> deltaRows(k))
    println(s"SOAK5M base ${base.count()} deltas ${deltas.map(_._2.size).mkString("/")}")

    val tmp = java.nio.file.Files.createTempDirectory("graft_soak5m").toString
    val prefix = "graft_soak5m"
    val streamPrefix = "graft_soak5m_stream"
    val prefixes = Seq(prefix, streamPrefix)
    try {
      val idx0 = timed("base index build + persist (one-time)") {
        PipelineOps.persistBaseIndexes(
          PipelineOps.baseIndexes(base, bench), s"$tmp/v0", prefix = prefix)
      }
      println(s"SOAK5M index fp ${idx0.rawFp.count()} bands ${idx0.deconBands.count()}")
      // the stream's copy is written from the persisted tables, not rebuilt
      PipelineOps.persistBaseIndexes(idx0, s"$tmp/stream", prefix = streamPrefix)

      def parquetFiles(dir: String): Int =
        new java.io.File(dir).list().count(_.endsWith(".parquet"))

      // ---- streaming replay FIRST, on its own persisted copy of the
      // base indexes, so the batch path below starts from the pristine
      // tables ----
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamCapstone.incrementalCapstoneStreamPersisted(
        input.toDF().toDF("doc_id", "text"), streamPrefix, bench,
        s"$tmp/out", s"$tmp/quarantine", s"$tmp/ckpt")
      val streamed = try {
        timed("streaming replay of all 3 deltas") {
          deltas.foreach { case (_, rows) =>
            input.addData(rows: _*); q.processAllAvailable()
          }
        }
        spark.read.parquet(s"$tmp/out")
          .select(col("doc_id"), col("clean_text"))
          .as[(Long, String)].collect().toSet
      } finally q.stop()

      // ---- batch deployment path: per-day incrementalStep + APPEND ----
      var batchSurvivors = Set.empty[(Long, String)]
      deltas.foreach { case (k, rows) =>
        val cur = PipelineOps.BaseIndexes(
          spark.table(s"${prefix}_rawfp"), spark.table(s"${prefix}_bands"))
        val (surv, dIdx) = PipelineOps.incrementalStep(cur, rows.toDF("doc_id", "text"), bench)
        val survRows = timed(s"day $k incremental (per-delta cost)")(
          surv.as[(Long, String)].collect().toSet)
        batchSurvivors ++= survRows
        timed(s"day $k append")(
          PipelineOps.appendBaseIndexes(dIdx, prefix = prefix))
        Verify.releaseQueryState(spark)
        println(s"SOAK5M day $k survivors ${survRows.size} " +
          s"fp ${spark.table(s"${prefix}_rawfp").count()} " +
          s"bands ${spark.table(s"${prefix}_bands").count()} " +
          s"fpFiles ${parquetFiles(s"$tmp/v0/rawfp")} " +
          s"bandFiles ${parquetFiles(s"$tmp/v0/bands")}")
      }

      println(s"SOAK5M stream==batch " +
        (if (streamed == batchSurvivors) "EXACT"
         else s"BROKEN only-stream=${(streamed -- batchSurvivors).take(5)} " +
           s"only-batch=${(batchSurvivors -- streamed).take(5)}"))

      // ---- nightly compaction ----
      val fpBefore = spark.table(s"${prefix}_rawfp").count()
      val bandsBefore = spark.table(s"${prefix}_bands").count()
      timed("nightly compaction")(
        PipelineOps.compactBaseIndexes(spark, s"$tmp/v1", prefix = prefix))
      val ok = spark.table(s"${prefix}_rawfp").count() == fpBefore &&
        spark.table(s"${prefix}_bands").count() == bandsBefore
      println(s"SOAK5M compaction rows ${if (ok) "EXACT" else "BROKEN"} " +
        s"fpFiles ${parquetFiles(s"$tmp/v1/rawfp")} " +
        s"bandFiles ${parquetFiles(s"$tmp/v1/bands")}")

      // ---- deployment stream: days 4-6 through the persisted-table
      // stream over the compacted tables ----
      val input2 = MemoryStream[(Long, String)]
      val q2 = graft.streaming.StreamCapstone.incrementalCapstoneStreamPersisted(
        input2.toDF().toDF("doc_id", "text"), prefix, bench,
        s"$tmp/out2", s"$tmp/quarantine2", s"$tmp/ckpt2")
      try {
        (4 to 6).foreach { k =>
          val rows = deltaRows(k)
          timed(s"day $k persisted-stream batch") {
            input2.addData(rows: _*); q2.processAllAvailable()
          }
        }
      } finally q2.stop()
      val streamed2 = spark.read.parquet(s"$tmp/out2")
      println(s"SOAK5M persisted-stream days 4-6 survivors ${streamed2.count()} " +
        s"fp ${spark.table(s"${prefix}_rawfp").count()} " +
        s"bands ${spark.table(s"${prefix}_bands").count()}")
    } finally prefixes.foreach { p =>
      spark.sql(s"DROP TABLE IF EXISTS ${p}_rawfp")
      spark.sql(s"DROP TABLE IF EXISTS ${p}_bands")
    }
  }

  /** The TWO-LEVEL IVF coarse quantizer at a large-codebook scale —
    * the claim is the ASSIGNMENT product cut (corpus × cells → corpus ×
    * coarseProbes·cells/coarseCells), so the fine codebook is
    * deterministic (first `cells` corpus vectors) and both shapes run
    * the identical rerank tail. Clustered synthetic corpus (the regime
    * IVF exists for); records single-level vs two-level wall,
    * full-coarse-probe equivalence, and partial-probe recall vs brute
    * force. Args: [vectors] [cells]. */
  private def ivf2(spark: SparkSession, args: Seq[String]): Unit = {
    val nVec = args(0).toInt
    val cells = args(1).toInt
    val docs = clusteredVectors(spark, nVec)
    println(s"SOAK ivf2 vectors ${docs.count()} cells $cells clusters 512")

    val n = Similarity.withNorm(docs)
    val fine = docs.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cembedding"))
      .transform(Pin(_, eager = true))
    val qPred = col("vec_id") % (nVec / 10) === 0 // 10 queries

    val single = timed(s"single-level ivfSearchJoin ($nVec x $cells product)")(
      Pin(Similarity.ivfSearchJoin(n, fine, qPred, k = 5, probes = 4), eager = true))
    val coarseCells = 64; val fullProbes = 64
    val twoFull = timed("two-level, FULL coarse probe (equivalence run)")(
      Pin(Similarity.ivfTwoLevelSearch(
        n, fine, qPred, k = 5, probes = 4,
        coarseCells = coarseCells, coarseProbes = fullProbes), eager = true))
    val mism = single.unionAll(twoFull)
      .groupBy(col("query_id"), col("neighbor_id"), col("rank"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
    println(s"SOAK ivf2 full-probe mismatches $mism " +
      (if (mism == 0) "EXACT" else "BROKEN"))
    val two = timed(s"two-level, 8/$coarseCells coarse probes (the scale shape)")(
      Pin(Similarity.ivfTwoLevelSearch(
        n, fine, qPred, k = 5, probes = 4,
        coarseCells = coarseCells, coarseProbes = 8), eager = true))
    val brute = Similarity.knnBrute(docs, qPred, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = timed("recall check")(
      brute.intersect(two.select(col("query_id"), col("neighbor_id"))).count())
    println(s"SOAK ivf2 partial-probe recall $hits/50")
  }

  /** IVF-PQ at scale — the claim is the MEMORY cut (m bytes per vector
    * instead of Dim·4 float bytes) at search quality the refine step
    * restores. Clustered synthetic corpus (Ivf2's generator); records
    * train/encode/search walls, the stored-index byte cut,
    * ADC-shortlist+refine recall vs exact brute force, and the
    * uncompressed IVF baseline's wall for the same queries.
    * Args: [vectors] [cells]. */
  private def ivfPq(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val nVec = args(0).toInt
    val cells = args(1).toInt
    val Dim = graft.functions.VectorFunctions.Dim
    val docs = clusteredVectors(spark, nVec)
    println(s"SOAK ivfpq vectors ${docs.count()} cells $cells clusters 512")

    val m = 8; val ksub = 256
    val model = timed(s"train coarse k-means($cells) + $m x k-means($ksub) on residuals")(
      Pq.train(docs, cells, m, ksub))
    val index = timed("encode (one corpus pass)")(
      Pin(Pq.encode(docs, model).select(col("vec_id"), col("cell"), col("pq")),
        eager = true))
    // stored-index cut: pq bytes vs raw float bytes (logical row size)
    val pqBytes = index.agg(sum(length(col("pq")))).collect()(0).getLong(0)
    val rawBytes = nVec.toLong * Dim * 4
    println(f"SOAK ivfpq index bytes $pqBytes (raw $rawBytes, " +
      f"${rawBytes.toDouble / pqBytes}%.1fx smaller)")

    val qPred = col("vec_id") % (nVec / 10) === 0 // 10 queries
    val k = 5
    val adc = timed("ADC shortlist(800) + exact refine, full probe")(
      Pin(Pq.searchAdcRerankIndex(index, docs, model, qPred, k,
        probes = cells, shortlist = 800), eager = true))
    val adcPartial = timed("ADC shortlist(800) + refine, 8-cell probe")(
      Pin(Pq.searchAdcRerankIndex(index, docs, model, qPred, k,
        probes = 8, shortlist = 800), eager = true))
    // AUTO shortlist (round 16): rank floor at k + tie extension +
    // the reconstruction-radius error band — the hand-tuned 800
    // replaced by the index's own statistic
    val rmax2 = timed("reconErrMax (one corpus pass)")(
      Pq.reconErrMax(docs, model))
    println(s"SOAK ivfpq reconErrMax $rmax2")
    val adcAuto = timed("ADC AUTO shortlist + refine, 8-cell probe")(
      Pin(Pq.searchAdcRerankIndex(index, docs, model, qPred, k,
        probes = 8, shortlist = 0, rmax2 = rmax2), eager = true))

    val brute = Similarity.knnBrute(docs, qPred, k)
      .select(col("query_id"), col("neighbor_id"))
      .transform(Pin(_, eager = true))
    val hitsFull = brute.intersect(
      adc.select(col("query_id"), col("neighbor_id"))).count()
    val hitsPart = brute.intersect(
      adcPartial.select(col("query_id"), col("neighbor_id"))).count()
    val hitsAuto = brute.intersect(
      adcAuto.select(col("query_id"), col("neighbor_id"))).count()
    println(s"SOAK ivfpq recall full-probe $hitsFull/${10 * k} " +
      s"8-probe $hitsPart/${10 * k} auto-8-probe $hitsAuto/${10 * k} " +
      "(vs exact cosine brute)")

    // uncompressed IVF baseline on the same codebook size
    val fine = model.coarse.toDF("cent_id", "cembedding")
    timed(s"uncompressed ivfSearchJoin baseline ($nVec x $cells floats)")(
      Pin(Similarity.ivfSearchJoin(
        Similarity.withNorm(docs), fine, qPred, k, probes = 2), eager = true))
  }

  /** q83's kNN graph under exact-dup replication — the invariance the
    * dedup-first design buys: the graph over N base vectors replicated
    * C times must cost and return EXACTLY the single-copy graph (reps
    * don't grow with C), where a raw-row graph would pay C² more
    * candidates for neighbor lists that are all equal.
    * Args: [srcSfDir] [copies]. */
  private def knnGraph(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args(1).toInt
    val base = Tables.embeddings(spark, args(0)).select("vec_id", "embedding")
    val (replicated, stride) = replicate(base, "vec_id", copies)
    val corpus = replicated.cache()
    println(s"SOAK vectors ${corpus.count()} (=$copies x $stride)")

    val single = timed("graph on 1 copy")(
      Similarity.knnGraph(base, 5).collect())
    val rep = timed(s"graph on $copies copies")(
      Similarity.knnGraph(corpus, 5).collect())
    println(s"SOAK edges single ${single.length} replicated ${rep.length}")
    val s1 = single.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sC = rep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    println(s"SOAK identical_graph ${s1 == sC}")
    require(s1 == sC,
      "replication changed the rep-level graph — dedup-first invariance broken")
  }

  /** The q92 Luby MIS loop, the q90 incremental dedup join, and the q93
    * CDC chunker at the 5M decade — structure-controlled like CC:
    *
    *   - MIS over 1M five-node path families + one planted 10,001-node
    *     path: fixed-priority Luby must converge in O(log n)-ish rounds
    *     (priorities are salted hashes, so the planted path is NOT the
    *     id-ordered worst case), the kept set must be verifiably
    *     maximal+independent by construction checks, and persistent-RDD
    *     storage after the run must be O(1) pins (the und chain AND the
    *     per-round sel pins released; one output-sized kept pin
    *     survives, owned by the caller).
    *   - q90 incremental dedup: 5M-doc base fingerprint index vs a
    *     5k-doc delta (the daily-ingest asymmetry): the join must plan
    *     SHUFFLE_HASH (no broadcast of either corpus-shaped side) and
    *     the delta-sized output must arrive in seconds.
    *   - q93 CDC chunking at 5M synthetic docs: linear wall, exact
    *     replica invariance is already covered by CorpusOps; here the
    *     claim is absolute scale (boundaries computed in one pass, no
    *     blowup).
    *
    * Args: [nodes]. */
  private def mis(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args(0).toLong
    // --- q92 MIS at 5M nodes ---
    val pairs = chainsAndPath(spark, n)
    println(s"SOAK mis nodes ~${n + pathLen(n)} edges ${pairs.count()}")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (kept, rounds) = timed("mis independentSet 5M")(
      Diversity.independentSetWithRounds(pairs))
    val keptN = kept.count()
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    println(s"SOAK mis kept $keptN rounds $rounds " +
      s"persisted $persistedBefore -> $persistedAfter")
    // independence: no kept pair is an edge (exact anti check)
    val viol = pairs.join(kept.select(col("node").as("a")), Seq("a"))
      .join(kept.select(col("node").as("b")), Seq("b")).count()
    // maximality: every non-kept graph node has a kept neighbor
    val nodes = pairs.select(col("a").as("node"))
      .unionAll(pairs.select(col("b").as("node"))).distinct()
    val undominated = nodes.join(kept, Seq("node"), "left_anti")
      .join(
        pairs.join(kept.select(col("node").as("a")), Seq("a"))
          .select(col("b").as("node"))
        .unionAll(pairs.join(kept.select(col("node").as("b")), Seq("b"))
          .select(col("a").as("node"))).distinct(),
        Seq("node"), "left_anti").count()
    println(s"SOAK mis independence violations $viol undominated $undominated " +
      (if (viol == 0 && undominated == 0) "EXACT" else "BROKEN"))

    // --- q90 incremental dedup at 5M base / 5k delta ---
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("base text body number "), col("id").cast("string"),
        lit(" tail")).as("text"))
    // delta: half genuinely new, half exact dups of base rows
    val delta = spark.range(5000).select((col("id") + n).as("doc_id"),
      when(col("id") % 2 === 0,
        concat(lit("base text body number "),
          expr("id div 2").cast("string"), lit(" tail")))
        .otherwise(concat(lit("fresh delta doc "), col("id").cast("string")))
        .as("text"))
    val survivors = timed("incremental dedup 5M base / 5k delta")(
      Dedup.incrementalSurvivors(base, delta).count())
    println(s"SOAK incremental survivors $survivors (expect 2500)")

    // --- q93 CDC at 5M docs ---
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("lorem ipsum dolor sit amet consectetur adipiscing elit "),
        col("id").cast("string"),
        lit(" sed do eiusmod tempor incididunt ut labore et dolore")).as("text"))
    val cdc = timed("cdc chunk stats 5M docs")(
      Dedup.cdcChunkStats(docs).agg(
        count(lit(1)), sum(col("n_chunks"))).collect()(0))
    println(s"SOAK cdc docs ${cdc.getLong(0)} chunks ${cdc.getLong(1)}")
  }

  /** q72's dedup-before-indexing pair listing at sf10-scale
    * replication — 100 exact copies of the 2k sf0.1 base vectors (the
    * BENCH_SF10 replicated-corpus setting where the old whole-corpus
    * index was shown unsplittable by any hash layout). Records every
    * stage cardinality of the family → rep → pair → expansion pipeline
    * plus wall time. Args: [srcSfDir] [copies]. */
  private def nearDup(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args(1).toInt
    val base = Tables.embeddings(spark, args(0)).select("vec_id", "embedding")
    val (replicated, stride) = replicate(base, "vec_id", copies)
    val corpus = replicated.cache()
    val n = corpus.count()
    println(s"SOAK vectors $n (=$copies x $stride)")

    // stage cardinalities of the dedup-first pipeline
    val fam = corpus
      .withColumn("qv", graft.functions.VectorFunctions.quantizeQ(col("embedding")))
      .withColumn("rep", min(col("vec_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qv"))))
    val nReps = timed("families")(
      fam.filter(col("vec_id") === col("rep")).count())
    println(s"SOAK reps $nReps (collapse ${n / nReps}x)")

    val pairs = Similarity.nearDupPairs(corpus, minSim = 0.45).cache()
    val nPairs = timed("nearDupPairs")(pairs.count())
    val bySim = pairs.agg(
      sum(when(col("sim") >= 0.999999, 1L).otherwise(0L)).as("exact"),
      min(col("sim")).as("min_sim")).collect()(0)
    println(s"SOAK pairs $nPairs exact_family ${bySim.getLong(0)} " +
      f"min_sim ${bySim.getDouble(1)}%.3f")

    // the counterfactual: candidate volume if the index ran on RAW
    // rows (what the pre-rebuild q72 did) vs on reps
    val repVecs = fam.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("embedding"))
    def candVolume(df: DataFrame): Long = {
      val e = Similarity.lshEntries(df, Similarity.NumTables, Similarity.DupPlanes)
      e.groupBy(col("tbl"), col("bkey")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1)).as("s")).collect()(0).getLong(0) / 2
    }
    val candRep = timed("cand.reps")(candVolume(repVecs))
    val candRaw = timed("cand.raw")(candVolume(corpus))
    println(s"SOAK candidates reps $candRep raw $candRaw " +
      s"(${candRaw / math.max(candRep, 1L)}x avoided)")
  }

  /** The q99 token-budget PRE-PRUNE at the 5M decade. One
    * deliberately GIANT source (90% of the corpus) plus a tail of
    * small ones: without the prune the giant source's exact
    * running-sum window sorts 4.5M docs on one task chain; with it the
    * window input must be bounded near the budget (the sliver), and
    * the kept set must equal the exact form's row for row. Args:
    * [docs]. */
  private def order(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args(0).toLong
    // 90% giant source, 10% across 64 small sources; score is a
    // salted-hash double (spread out — the prune's favorable regime,
    // and the honest one: a real quality score is near-continuous),
    // token counts 1..40
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9, lit("giant"))
        .otherwise(concat(lit("s"), (col("id") % 64).cast("string"))).as("source"),
      (conv(substring(md5(concat(lit("q:"), col("id").cast("string"))), 1, 12),
        16, 10).cast("long") % 1000000L).cast("double").as("qs"),
      (col("id") % 40 + 1).as("tok"))
      .transform(Pin(_, eager = true))
    println(s"SOAK order docs ${docs.count()}")

    val budget = 100000L // ~5k docs of the giant source at avg tok ~20

    val sliver = timed("pruneSliver (histogram + cut)")(
      Curriculum.pruneSliver(docs, budget, "source", 4096))
    val sliverBySrc = sliver.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("tok")).as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val giant = sliverBySrc("giant")
    println(s"SOAK order giant-source sliver ${giant._1} docs / ${giant._2} tokens " +
      s"(budget $budget; source holds ${n * 9 / 10} docs) -> " +
      f"window input is ${giant._2.toDouble / budget}%.2fx budget")

    val pruned = timed("tokenBudget prePrune=true")(
      Curriculum.tokenBudget(docs, budget, col("qs"), col("tok"),
        prePrune = true).transform(Pin(_, eager = true)))
    val exact = timed("tokenBudget prePrune=false (exact window)")(
      Curriculum.tokenBudget(docs, budget, col("qs"), col("tok"),
        prePrune = false).transform(Pin(_, eager = true)))
    val nPruned = pruned.count()
    val diff = pruned.unionAll(exact)
      .groupBy(col("source"), col("doc_id"), col("tok"), col("rank"),
        col("cum_before"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
    println(s"SOAK order kept $nPruned rows, pruned-vs-exact mismatches $diff " +
      (if (diff == 0) "EXACT" else "BROKEN"))
  }

  /** q77's exact-substring signal at 10x the bench scale — 500k
    * documents built by replicating the sf1 corpus with doc_id shifts.
    * Copies are VERBATIM (unlike GenSf's marker-perturbed document
    * replication), so every base window becomes a 10-member cross-doc
    * family: the adversarial everything-is-duplicated case. The probe
    * records the stage cardinalities that must stay LINEAR (window
    * rows, per-(h,doc) rows, multi-doc hash count) and the wall time of
    * the full signal. Args: [srcSfDir] [copies]. */
  private def dupSubstring(spark: SparkSession, args: Seq[String]): Unit = {
    val copies = args(1).toInt
    val base = Tables.documents(spark, args(0)).select("doc_id", "text")
    val (replicated, stride) = replicate(base, "doc_id", copies)
    val corpus = replicated.cache()
    val nDocs = corpus.count()
    println(s"SOAK docs $nDocs (=$copies x $stride)")

    val occ = corpus.select(col("doc_id"),
      explode(graft.plans.RollingHashes(col("text"), 40)).as("h"))
    val nWindows = timed("windows")(occ.count())
    // beyond ~1M docs the un-anchored stages are exactly what the
    // anchorMod dial exists to avoid (the full 10x run is recorded in
    // BENCH_SF10.md); at the 5M-doc decade only the dialed path runs
    if (copies <= 20) {
      val perDoc = occ.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
      val stats = timed("hash stats")(
        perDoc.groupBy(col("h")).agg(count(lit(1)).as("nd"))
          .agg(count(lit(1)).as("hashes"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("multi"),
            max(col("nd")).as("max_family")).collect()(0))
      println(s"SOAK windows $nWindows distinct_hashes ${stats.getLong(0)} " +
        s"multi_doc ${stats.getLong(1)} max_family ${stats.getLong(2)}")

      val out = timed("dupSubstringStats end-to-end")(
        Dedup.dupSubstringStats(corpus, 40)
          .agg(sum(col("dup_windows")), count(lit(1))).collect()(0))
      println(s"SOAK dup_windows_total ${out.getLong(0)} rows ${out.getLong(1)}")
    } else println(s"SOAK un-anchored stages skipped at $copies copies (dialed path only)")

    // the anchorMod scale dial: ~1/16 of windows, content-aligned
    val aOcc = occ.filter(col("h") % 16 === 0)
    val nAnchored = timed("anchored windows")(aOcc.count())
    val aStats = timed("anchored hash stats")(
      aOcc.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("hashes"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("multi"),
          max(col("nd")).as("max_family")).collect()(0))
    println(f"SOAK anchored_windows $nAnchored (1/${nWindows.toDouble / nAnchored}%.1f of all) " +
      s"anchored_hashes ${aStats.getLong(0)} multi ${aStats.getLong(1)} max_family ${aStats.getLong(2)}")
    val anchored = timed("dupSubstringStats anchorMod=16")(
      Dedup.dupSubstringStats(corpus, 40, anchorMod = 16)
        .agg(sum(col("dup_windows")), sum(when(col("dup_windows") > 0, 1L).otherwise(0L)))
        .collect()(0))
    println(s"SOAK anchored dup_windows ${anchored.getLong(0)} " +
      s"docs_flagged ${anchored.getLong(1)}")
  }
}
