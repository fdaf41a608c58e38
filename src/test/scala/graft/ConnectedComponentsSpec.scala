package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Min-label propagation semantics on planted graphs (q70's oracle
  * covers the event-data path; these pin the operator contract). */
class ConnectedComponentsSpec extends SparkTestBase {

  test("labels converge to the min id per component, incl. a long path") {
    import spark.implicits._
    // component A: path 10-20-30-40-50 (diameter 4 — needs >1 round),
    // component B: triangle 100-101-102, component C: lone edge 7-8
    val pairs = Seq(
      (10L, 20L), (20L, 30L), (30L, 40L), (40L, 50L),
      (100L, 101L), (101L, 102L), (100L, 102L),
      (7L, 8L)).toDF("a", "b")
    val got = ConnectedComponents.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    val want = Map(
      10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 50L -> 10L,
      100L -> 100L, 101L -> 100L, 102L -> 100L,
      7L -> 7L, 8L -> 7L)
    assert(got == want)
  }

  test("survivors keeps min-id representatives and untouched docs") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 4L)).toDF("a", "b")
    val kept = ConnectedComponents.survivors(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // clusters {2,5,9}->2 and {3,4}->3: drop 5, 9, 4
    assert(kept == Seq(1L, 2L, 3L, 6L, 7L, 8L, 10L))
  }

  test("unconverged high-diameter graph fails loudly at maxIter") {
    import spark.implicits._
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val boom = intercept[IllegalArgumentException] {
      ConnectedComponents.clusters(chain, maxIter = 1).count()
    }
    assert(boom.getMessage.contains("did not converge"))
    // the failing call releases its edge pin and its live round pin
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      "a failed clusters call left pins registered")
    // and with room it converges to the single min label
    val ok = ConnectedComponents.clusters(chain, maxIter = 20)
    assert(ok.filter(col("cluster_id") =!= 1L).isEmpty)
  }

  test("survivorsBy keeps the best-scoring member per cluster, ties to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L),  // cluster {1,2,3}: 2 and 3 tie on score -> keep 2
      (4L, 9L), (5L, 7L),               // cluster {4,5}: keep 4 (higher score)
      (6L, 1L)                          // unpaired: kept untouched
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val kept = ConnectedComponents.survivorsBy(docs, pairs, col("quality"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 6L))
    // min-id rule would have kept 1 and 4 — the policies genuinely differ
    val minId = ConnectedComponents.survivors(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(minId == Seq(1L, 4L, 6L))
  }

  test("pointer halving: diameter-64 path converges in O(log d) rounds with bounded storage") {
    import spark.implicits._
    val chain = (0L to 64L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (df, rounds) = ConnectedComponents.clustersWithRounds(chain, "a", "b", maxIter = 20)
    assert(df.filter(col("cluster_id") =!= 0L).isEmpty, "all 65 nodes label 0")
    // min-propagation alone walks one hop per round (64 rounds);
    // the shortcut closes a 64-diameter path in <= 10
    assert(rounds <= 10, s"shortcut missing: took $rounds rounds")
    // storage bound: every superseded round's pin was released —
    // at most the final labels pin (+ the edges pin's released-but-
    // not-yet-gc'd entry) may remain registered
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter - persistedBefore <= 2,
      s"pins leaked: $persistedBefore -> $persistedAfter with $rounds rounds")
  }
}
