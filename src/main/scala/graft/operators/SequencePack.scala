package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Concat-and-chunk sequence packing — the standard pretraining data
  * prep step (concatenate the corpus into one token stream, cut it
  * into fixed `capacity`-token context windows): each document is
  * assigned to the chunk where its FIRST token lands,
  * `bin = floor(tokens_before / capacity)` over a TOTAL document
  * order. Deterministic, exactly reproducible in SQL (one window
  * cumsum), and — unlike greedy first-fit bin packing, whose
  * bin-reset recurrence is inherently sequential — expressible as a
  * prefix sum, which is why production packers chunk the concatenated
  * stream rather than bin-pack.
  *
  * Scale shape (the [[GlobalRank]] discipline): a bare
  * `Window.orderBy(...)` cumsum plans a SinglePartition exchange —
  * every row through one task. Here:
  *
  *  1. range-repartition + sort on the order key (the same shuffle a
  *     protocol ORDER BY would pay anyway);
  *  2. per-partition running sums via a window PARTITIONED on the
  *     physical partition id (no cross-partition data movement);
  *  3. per-partition token totals — O(#partitions) longs — collected
  *     to the driver, prefix-summed, and rejoined as a literal-map
  *     offset lookup, exactly like RDD zipWithIndex.
  *
  * The input is pinned so the totals job and the final plan share one
  * computation of the upstream pipeline.
  */
object SequencePack {

  /** Doc-boundary-respecting bin packing — the loader-side alternative
    * to [[withBin]]'s concat-and-chunk: no document is ever split
    * across a context window, killing the cross-document attention
    * waste chunking pays at every window boundary.
    *
    * True first-fit-decreasing is a sequential recurrence (each bin's
    * residual capacity depends on every earlier placement) — a
    * driver-side loop at 100 TB. This is the FIT-BUCKET variant, which
    * keeps FFD's decreasing order and its waste bound while staying a
    * pure prefix-sum computation:
    *
    *  - bucket `m = capacity div max(tok,1)` — every doc in bucket m
    *    has `tok ∈ (capacity/(m+1), capacity/m]`, so exactly `m` docs
    *    from the bucket are GUARANTEED to fit one bin (m·capacity/m =
    *    capacity), with utilization > m/(m+1) ≥ 1/2 for every full
    *    bin. Oversize docs (tok > capacity, m = 0) get a bin each,
    *    flagged by `fit = 1` + `tok_sum > capacity` for the caller's
    *    truncation policy.
    *  - within a bucket, docs are ordered by (salted md5, id) — a
    *    deterministic shuffle so bins draw an unbiased sample of the
    *    corpus rather than consecutive doc_ids — and doc at 0-based
    *    in-bucket rank r lands in local bin `r div k` (k = max(m,1)):
    *    rank arithmetic, no recurrence.
    *  - global bin ids: buckets ordered m ascending (= decreasing doc
    *    size, the FFD flavor: oversize first, then whole-bin docs,
    *    then halves, …), local bins offset by a prefix sum over the
    *    per-bucket bin counts.
    *
    * Scale shape: one [[GlobalRank]] pass on (m, salt, id) — range
    * repartition, per-partition rank, O(#partitions) driver offsets —
    * plus a per-bucket stats collect bounded by `capacity + 1` rows
    * (m ∈ [0, capacity]) broadcast back as a join. No SinglePartition,
    * no per-bucket window over a giant bucket.
    *
    * Adds `out` = 0-based global bin id and `fitOut` = docs-per-bin
    * for the row's bucket. `idCol` must be unique (the order
    * tiebreak). SQL-expressible end to end (q104's oracle mirrors it
    * with one ROW_NUMBER and one prefix-sum window). */
  def packBinned(df: DataFrame, tokenCol: Column, idCol: Column,
                 capacity: Long, salt: String = "pack_",
                 out: String = "bin", fitOut: String = "fit"): DataFrame = {
    require(capacity > 0, "packBinned: capacity must be positive")
    val base = df
      .withColumn("__tok", tokenCol.cast("long"))
      .withColumn("__m",
        expr(s"CAST($capacity AS BIGINT) div greatest(__tok, CAST(1 AS BIGINT))"))
      .withColumn("__salt",
        substring(md5(concat(lit(salt), idCol.cast("string"))), 1, 8))
    val ranked = GlobalRank.withRowNumber(
      base, Seq(col("__m"), col("__salt"), idCol), "__gr")
    // per-bucket (count, first global rank): ≤ capacity+1 rows by
    // construction — a model-sized collect, not a data collect
    val stats = ranked.groupBy(col("__m"))
      .agg(count(lit(1)).as("c"), min(col("__gr")).as("r0"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var acc = 0L
    val rows = stats.map { case (m, c, r0) =>
      val k = math.max(m, 1L)
      val boff = acc
      acc += (c + k - 1L) / k
      (m, r0, k, boff)
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val lookup = broadcast(rows.toDF("__m", "__r0", "__k", "__boff"))
    ranked.join(lookup, "__m")
      .withColumn(out, expr("__boff + ((__gr - __r0) div __k)").cast("long"))
      .withColumn(fitOut, col("__k"))
      .drop("__m", "__salt", "__gr", "__r0", "__k", "__boff", "__tok")
  }

  /** Adds `out` = 0-based chunk id of each row in `sortCols` total
    * order, packing `tokenCol` tokens per `capacity`-token chunk.
    * `sortCols` must be tie-free (callers sort on a key). */
  def withBin(df: DataFrame, tokenCol: Column, sortCols: Seq[Column],
              capacity: Long, out: String = "bin"): DataFrame = {
    require(capacity > 0, "pack: capacity must be positive")
    val (parted, offset) = GlobalRank.rangeOffsets(df, sortCols, sum(col("__tok")), _
      .withColumn("__tok", tokenCol.cast("long"))
      .withColumn("__pid", spark_partition_id()))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    parted
      .withColumn("__before", coalesce(sum(col("__tok")).over(wLocal), lit(0L)) + offset)
      .withColumn(out, floor(col("__before") / capacity).cast("bigint"))
      .drop("__tok", "__pid", "__before")
  }
}
