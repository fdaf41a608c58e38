package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Pq
import graft.plans.{PqAdc, PqLut, PqPack}

/** IVF-PQ (operators/Pq): encode arithmetic is oracle-gated (q103);
  * this spec pins the pieces the oracle cannot see — the packed
  * binary form, the ADC identity, trained-model determinism, and the
  * headline recall claim on planted clusters. */
class PqSpec extends SparkTestBase {

  private val Dim = VectorFunctions.Dim

  private def plantedCorpus(nVec: Int, nClusters: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val centers = Array.fill(nClusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    (0 until nVec).map { i =>
      val r2 = new scala.util.Random(i * 7919L + 13)
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + 0.05f * r2.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("pq codes: in range, pack to m bytes (32x smaller), pack/unpack roundtrip") {
    val emb = Tables.embeddings(spark, sfDir)
    val m = 8; val ksub = 16
    val model = Pq.modelFromRows(emb, col("vec_id") < 8, col("vec_id") < ksub, m)
    val enc = Pq.encode(emb, model)
    assert(enc.filter(col("codes").isNull || col("pq").isNull).isEmpty,
      "null codes on clean input")
    val rows = enc.select(col("codes"), col("pq")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Long](0)
      val pq = r.getAs[Array[Byte]](1)
      assert(codes.size == m && codes.forall(c => c >= 0 && c < ksub))
      assert(pq.length == m, s"packed form must be m bytes, got ${pq.length}")
      assert(codes == pq.map(b => (b & 0xff).toLong).toSeq, "pack/unpack mismatch")
    }
    // the compression claim: Dim floats -> m bytes
    assert(Dim * 4 / m == 32, s"m=8 over Dim=64 floats is 32x, got ${Dim * 4 / m}")
  }

  test("ADC identity: searchAdc distance equals the exact sum of codebook partials") {
    val emb = Tables.embeddings(spark, sfDir)
    val m = 4; val ksub = 16
    val model = Pq.modelFromRows(emb, col("vec_id") < 8, col("vec_id") < ksub, m)
    val dsub = Dim / m
    // full probe so every (query, candidate) pair surfaces
    val index = Pq.encode(emb, model).select(col("vec_id"), col("cell"), col("pq"))
    val got = Pq.searchAdcIndex(index, emb, model, col("vec_id") < 3, k = 5,
      probes = model.coarse.size)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty)
    // local recompute: adist(q, x) = sum_j || r_q[j] - cb[codes_x[j]] ||^2
    val enc = Pq.encode(emb, model)
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * VectorFunctions.QScale).toLong)).toMap
    val cents = model.coarse.map { case (cid, ce) =>
      cid -> ce.map(x => math.floor(x.toDouble * VectorFunctions.QScale).toLong)
    }.toMap
    got.foreach { case ((qid, nid), adist) =>
      val (cell, codes) = enc(nid)
      val rq = vecs(qid).zip(cents(cell)).map { case (a, b) => a - b }
      val expect = (0 until m).map { j =>
        val base = (j * ksub + codes(j).toInt) * dsub
        (0 until dsub).map { t =>
          val diff = rq(j * dsub + t) - model.codebook(base + t)
          diff * diff
        }.sum
      }.sum
      assert(adist == expect, s"ADC mismatch for ($qid,$nid): $adist vs $expect")
    }
  }

  test("trained model: deterministic for a fixed seed; codes valid") {
    val corpus = plantedCorpus(400, 8)
    val m1 = Pq.train(corpus, cells = 4, m = 4, ksub = 8, seed = 7L)
    val m2 = Pq.train(corpus, cells = 4, m = 4, ksub = 8, seed = 7L)
    assert(m1 == m2, "train must be deterministic for a fixed seed")
    val enc = Pq.encode(corpus, m1)
    assert(enc.filter(col("codes").isNull).isEmpty)
    assert(enc.count() == 400)
  }

  test("full-probe PQ recall >= 0.8 vs exact L2 on planted clusters") {
    // Raw ADC cannot beat this bar on clustered data BY CONSTRUCTION:
    // same-cluster members share their code word, tie on adist, and
    // top-k-of-a-tie is an arbitrary k of the cluster (measured 0.095
    // at 100-member clusters — k/cluster-size, not a bug). The recall
    // claim holds for the production shape, ADC shortlist + exact
    // refine (searchAdcRerank — the FAISS IVFPQR composition).
    val corpus = plantedCorpus(2000, 32)
    val model = Pq.train(corpus, cells = 8, m = 8, ksub = 64, seed = 42L)
    val k = 10
    val qPred = col("vec_id") < 16
    val adc = Pq.searchAdcRerank(corpus, model, qPred, k,
      probes = model.coarse.size, shortlist = 200)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = exactTopK(corpus, qPred, k)
    val recalls = exact.map { case (qid, truth) =>
      adc.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, f"full-probe PQ recall $mean%.3f < 0.8")
  }

  /** Exact squared-L2 top-k over the quantized vectors (the metric PQ
    * approximates), brute-forced on the bounded query sliver. */
  private def exactTopK(corpus: org.apache.spark.sql.DataFrame,
                        qPred: Column, k: Int): Map[Long, Set[Long]] = {
    val q = VectorFunctions.quantizeQ(col("embedding"))
    val base = corpus.select(col("vec_id"), q.as("qv"))
    val queries = base.filter(qPred)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    broadcast(queries).join(base, col("vec_id") =!= col("query_id"))
      .withColumn("d2", aggregate(zip_with(col("qq"), col("qv"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("auto shortlist (tie band + error band): recall >= 0.95 with no hand-picked constant") {
    // 16 clusters of 125 members — within-cluster candidates ADC
    // cannot order (near-equal adist), the exact shape that forced
    // the IvfPq soak's hand-tuned shortlist=800. Default shortlist (auto):
    // the rank() cut admits exact-tie groups whole, and the
    // reconstruction-radius error band (sqrt(adist) <= sqrt(adist_k)
    // + 2·sqrt(reconErrMax)) provably admits every possible true
    // neighbor in the quantized metric — measured here: the pure
    // rank cut alone reads 0.36 (distinct codes, near-ties, only ~k
    // admitted); the band restores the full cluster.
    val corpus = plantedCorpus(2000, 16)
    val model = Pq.train(corpus, cells = 8, m = 8, ksub = 64, seed = 42L)
    val k = 10
    val qPred = col("vec_id") < 16
    val got = Pq.searchAdcRerank(corpus, model, qPred, k,
      probes = model.coarse.size)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = exactTopK(corpus, qPred, k)
    val recalls = truth.map { case (qid, t) =>
      got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, f"auto-shortlist recall $mean%.3f < 0.95")
  }

  test("pq expressions degrade to null on malformed input, never garbage") {
    import spark.implicits._
    val m = 4; val ksub = 4
    val book = Seq.fill(m * ksub * (Dim / m))(0L)
    // wrong-length embedding -> null codes
    val short = Seq((1L, Seq.fill(3)(0.5f), Seq.fill(Dim)(0.0f)))
      .toDF("vec_id", "embedding", "cembedding")
    val c = short.select(graft.plans.PqCodes(
      col("embedding"), col("cembedding"), m, ksub, book).as("codes")).collect()
    assert(c.head.isNullAt(0))
    // out-of-range code -> null pack
    val bad = Seq(Tuple1(Seq(0L, 1L, 2L, 99L))).toDF("codes")
      .select(PqPack(col("codes"), m, ksub).as("pq")).collect()
    assert(bad.head.isNullAt(0))
    // wrong-size lut -> null adc
    val adcBad = Seq(Tuple1(Array[Byte](0, 1, 2, 3))).toDF("pq")
      .select(PqAdc(col("pq"), typedLit(Seq(1L, 2L)), m, ksub).as("d")).collect()
    assert(adcBad.head.isNullAt(0))
    // lut of the right size on a valid row -> defined
    val lutOk = Seq((Seq.fill(Dim)(0.25f), Seq.fill(Dim)(0.0f)))
      .toDF("qe", "ce")
      .select(PqLut(col("qe"), col("ce"), m, ksub, book).as("lut")).collect()
    assert(!lutOk.head.isNullAt(0) &&
      lutOk.head.getSeq[Long](0).size == m * ksub)
  }
}
