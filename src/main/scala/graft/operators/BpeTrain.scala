package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" —
  * the GPT-2/LLaMA tokenizer training recipe): iteratively merge the
  * most frequent adjacent symbol pair, starting from per-character
  * symbols.
  *
  * Scale shape — train on the WORD-COUNT VOCABULARY, never the
  * corpus: real BPE trainers aggregate the corpus to (word, count)
  * first because every occurrence of a word contributes identically,
  * so each merge round is a job over the vocabulary (≪ corpus, and
  * sublinear in corpus growth) weighted by the counts. Here that is
  * one corpus exchange up front ([[vocab]]: groupBy word with full
  * map-side combine), then per round: one explode → (pair)-keyed sum
  * aggregation → a 1-row argmax collect, and a higher-order
  * `aggregate` rewrite of the symbol arrays INSIDE each row (the
  * greedy left-to-right merge — no explode, no shuffle). Rounds pin
  * their vocabulary and release the superseded round's blocks (the
  * [[ConnectedComponents]] storage discipline), so lineage stays
  * flat and block-manager storage is O(vocab).
  *
  * House split (the q58/q76/q85 precedent): the initial weighted
  * pair-count table — the data-shaped surface every round's argmax
  * is an instance of — is the q86 oracle (exact int64 counts,
  * deterministic (cnt desc, pair asc) order); the merge LOOP is
  * driver-iterative by nature (each round depends on the previous
  * argmax) and is spec-gated on the literature's hand-computable
  * example (low/lower/newest/widest).
  */
object BpeTrain {

  /** Corpus → word-count vocabulary (empty words from whitespace
    * runs dropped; one corpus exchange, map-side combined). */
  def vocab(docs: DataFrame): DataFrame =
    // graft.plans.SpaceWords ≡ explode(split(trim(text), " ")) +
    // filter(length > 0) in one native byte pass (PropertySpec-pinned;
    // split pays java.util.regex per document, and the empty-segment
    // filter a second branch per word — round-15, the q105 floor)
    docs.select(explode(graft.plans.SpaceWords(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Per-character initial symbol array. */
  def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Adjacent-pair weighted counts over a (syms, cnt) vocabulary:
    * one explode of within-row zipped neighbors → keyed sum. */
  def pairCounts(v: DataFrame): DataFrame = {
    val pairs = zip_with(
      slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
      slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
      (a, b) => struct(a.as("lft"), b.as("rgt")))
    v.select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Greedy left-to-right application of ONE merge (a, b) → a+b to a
    * symbol array, entirely inside the row: a fold whose accumulator
    * appends the symbol, or replaces its own last element when it is
    * `a` and the incoming symbol is `b`. Non-overlapping by
    * construction — a just-merged element equals a+b, which can never
    * equal `a` (b is non-empty), so "aaa" under (a,a) becomes
    * [aa, a], exactly the reference algorithm. */
  def mergeSyms(syms: Column, a: Column, b: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === a && s === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
          .otherwise(concat(acc, array(s))))

  /** Train `rounds` merges over the corpus. Returns the merge table
    * (rank, lft, rgt, merged) — rank 1 first — possibly shorter than
    * `rounds` if the vocabulary runs out of adjacent pairs. Ties on
    * count break (lft asc, rgt asc), making the whole table
    * deterministic for any partitioning. */
  def train(docs: DataFrame, rounds: Int): Seq[(Int, String, String, String)] = {
    var v = vocab(docs)
      .select(charSyms(col("w")).as("syms"), col("cnt"))
      .transform(Pin(_, eager = true))
    var pinned = v
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      val top = pairCounts(v)
        .orderBy(col("cnt").desc, col("lft"), col("rgt"))
        .limit(1).collect() // 1 row by construction
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((r, a, b, a + b))
        v = v.select(mergeSyms(col("syms"), lit(a), lit(b)).as("syms"), col("cnt"))
          .transform(Pin(_, eager = true))
        Pin.release(pinned)
        pinned = v
      }
    }
    Pin.release(pinned)
    merges.toSeq
  }

  /** UTF-8 binary string order — Spark's UTF8String comparison (and
    * DuckDB's), which differs from Java's UTF-16 `compareTo` for
    * supplementary-plane code points (surrogates order between
    * U+D7FF and U+E000 in UTF-16). trainLocal's tie-breaks must
    * mirror the DISTRIBUTED argmax exactly, byte for byte. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Driver-local replica of [[charSyms]]: split into Unicode CODE
    * POINTS, not UTF-16 code units — Spark's `substr`/`length`
    * count code points, so a supplementary-plane character (emoji)
    * is ONE symbol distributed; `String.map(_.toString)` would make
    * it two lone surrogates (which also mojibake to '?' under
    * `getBytes(UTF_8)`, corrupting [[utf8Lt]] tie-breaks). */
  private[graft] def charSymsLocal(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Driver-local replica of Spark `trim(col)`: strips ASCII SPACE
    * (0x20) ONLY. Java's `String.trim` strips every control char
    * ≤ U+0020 (tab, newline, CR) and would silently diverge from
    * the distributed word stream on e.g. trailing newlines. */
  private[graft] def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** Driver-local replica of [[mergeSyms]]'s greedy left-to-right
    * fold — the same accumulator semantics, so "aaa" under (a,a)
    * gives [aa, a]. */
  private[graft] def mergeSymsLocal(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val s = syms(i)
      if (out.nonEmpty && out(out.length - 1) == a && s == b)
        out(out.length - 1) = a + b
      else out += s
      i += 1
    }
    out.toArray
  }

  /** The PRODUCTION trainer for large merge counts. [[train]] runs
    * one distributed job + one driver round-trip PER MERGE — the
    * documented design at the spec/oracle scale (≤ tens of rounds),
    * but a 32k–100k-merge production vocabulary would be days of
    * sequential ~1 s jobs. The standard trainer shape (what
    * sentencepiece/HuggingFace tokenizers do, and what Sennrich's
    * reference implementation does) instead observes that after the
    * FIRST aggregation the (word, count) vocabulary is bounded and
    * ≪ corpus — so: ONE distributed vocab aggregation (the same
    * corpus exchange [[train]] pays once), a deterministic
    * heavy-hitter truncation to `maxVocab` word types (cnt desc,
    * word asc — the standard practice for unbounded long tails; pass
    * `Int.MaxValue` to disable), a driver `collect()` of that
    * bounded table, and the merge loop LOCAL with incremental
    * pair-count maintenance: each round touches only the words
    * containing the merged pair (an inverted pair → word-ids index),
    * so a round is O(affected words), not O(vocab).
    *
    * Driver memory bound: O(maxVocab × avg word length) for the
    * symbol arrays plus O(distinct adjacent pairs) for the count
    * map — at the default 1M word types a few hundred MB worst-case,
    * the same class of driver-bounded collect as Dsir's 1024-row
    * model (there the bound is rows; here it is maxVocab, which the
    * caller sizes to driver heap).
    *
    * EXACTLY equal to [[train]] when maxVocab keeps every word type
    * (spec-pinned on the literature's hand example and a randomized
    * corpus): same greedy merge ([[mergeSymsLocal]] mirrors
    * [[mergeSyms]]), same argmax order (cnt desc, lft asc, rgt asc)
    * under UTF-8 BINARY string comparison — Java's UTF-16 compareTo
    * would silently diverge from the distributed sort on
    * supplementary-plane symbols. */
  def trainLocal(docs: DataFrame, rounds: Int,
                 maxVocab: Int = 1 << 20): Seq[(Int, String, String, String)] = {
    import scala.collection.mutable
    val rows = vocab(docs)
      .orderBy(col("cnt").desc, col("w"))
      .limit(maxVocab)
      .collect() // bounded by maxVocab — the documented driver bound
    val words: Array[Array[String]] =
      rows.map(r => charSymsLocal(r.getString(0)))
    val counts: Array[Long] = rows.map(_.getLong(1))

    val pc = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addWord(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nv = pc.getOrElse(p, 0L) + sign * counts(wi)
        if (nv == 0L) pc.remove(p) else pc(p) = nv
        if (sign > 0) index.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))

    val merges = mutable.ArrayBuffer.empty[(Int, String, String, String)]
    var r = 0
    while (r < rounds && pc.nonEmpty) {
      r += 1
      // argmax (cnt desc, lft asc, rgt asc) under UTF-8 binary order
      var best: ((String, String), Long) = null
      for (e <- pc) {
        if (best == null || e._2 > best._2 ||
          (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
            (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
          best = e
      }
      val (a, b) = best._1
      merges += ((r, a, b, a + b))
      // touch only words that contain the merged pair; index entries
      // are never pruned on rewrite, so re-check adjacency
      val affected = index.remove((a, b)).getOrElse(mutable.Set.empty)
      for (wi <- affected) {
        val s = words(wi)
        var has = false
        var i = 0
        while (!has && i < s.length - 1) {
          has = s(i) == a && s(i + 1) == b; i += 1
        }
        if (has) {
          addWord(wi, -1L)
          words(wi) = mergeSymsLocal(s, a, b)
          addWord(wi, 1L)
        }
      }
    }
    merges.toSeq
  }

  /** Tokenize a text column with a trained merge table: per word,
    * start from characters and fold the merges in rank order; emit
    * the concatenated token stream. The merge table is INLINED into
    * the expression tree (one `aggregate` per merge — the
    * ivfLearned literal-core precedent), so this is the bounded-
    * merge-list path: fine for the spec/eval scale it serves, and the
    * reference [[encodeBulk]] (the production encoder for 10k+ merges)
    * is spec-pinned against. */
  def encode(text: Column, merges: Seq[(Int, String, String, String)]): Column =
    flatten(transform(
      filter(split(trim(text), " "), w => length(w) > 0),
      w => merges.sortBy(_._1).foldLeft(charSyms(w)) {
        case (acc, (_, a, b, _)) => mergeSyms(acc, lit(a), lit(b))
      }))

  /** Encode ONE word against a rank-indexed merge table with the
    * candidate-heap algorithm (what sentencepiece/HF tokenizers
    * run): pop the lowest-rank pair currently present, apply it
    * greedily left-to-right (all occurrences — [[mergeSymsLocal]]),
    * push the ranks of newly-formed pairs if they rank AFTER the
    * current one. Pops are therefore strictly rank-ascending and a
    * pair formed after its own rank has passed is never applied —
    * EXACTLY the sequential in-rank-order semantics of [[encode]],
    * in O(pairs·log) per word instead of O(table).
    *
    * `rankOf` maps a pair to ALL its ranks, not the last one: a
    * trained table CAN contain the same pair twice (after (a,b) is
    * merged away, a later merge that builds a string equal to `a`
    * via a different decomposition re-forms the adjacency and the
    * pair can win the argmax again). The sequential fold applies
    * both entries in order; keeping only the last rank would skip
    * the first application and let an intermediate merge steal its
    * symbols (spec: the (a,b)/(b,b)/(a,b) hand table). */
  private[graft] def encodeWord(
      w: String,
      rankOf: collection.Map[(String, String), Seq[Int]],
      byRank: collection.Map[Int, (String, String)]): Array[String] = {
    var syms: Array[String] = charSymsLocal(w)
    if (syms.length < 2) return syms
    val pq = scala.collection.mutable.PriorityQueue.empty[Int](Ordering.Int.reverse)
    val queued = scala.collection.mutable.Set.empty[Int]
    def push(a: String, b: String, after: Int): Unit =
      rankOf.getOrElse((a, b), Nil).foreach { k =>
        if (k > after && !queued(k)) { pq += k; queued += k }
      }
    // seeding enqueues EVERY rank of the initially-present pairs with
    // no lower bound (the strictly-after filter only applies to pairs
    // formed BY a merge): train/trainLocal emit ranks from 1, but a
    // caller-loaded table may be 0-based or negative — a sentinel
    // `after` seed would silently skip its own value (the round-13
    // Int.MinValue seed still dropped a rank == Int.MinValue entry)
    def seed(a: String, b: String): Unit =
      rankOf.getOrElse((a, b), Nil).foreach { k =>
        if (!queued(k)) { pq += k; queued += k }
      }
    var i = 0
    while (i < syms.length - 1) { seed(syms(i), syms(i + 1)); i += 1 }
    while (pq.nonEmpty) {
      val k = pq.dequeue()
      val (a, b) = byRank(k)
      val ns = mergeSymsLocal(syms, a, b)
      if (!java.util.Arrays.equals(
          ns.asInstanceOf[Array[AnyRef]], syms.asInstanceOf[Array[AnyRef]])) {
        syms = ns
        val m = a + b
        var j = 0
        while (j < syms.length - 1) {
          if (syms(j) == m || syms(j + 1) == m) push(syms(j), syms(j + 1), k)
          j += 1
        }
      }
    }
    syms
  }

  /** The PRODUCTION encoder for LARGE merge tables. [[encode]]
    * inlines one `aggregate` per merge into the expression tree
    * (bounded tables only), and one projection pass per merge costs
    * a corpus pass per merge (392 s for a 64-merge prefix over 500k
    * docs, BENCH_SF10.md). This path is ONE pass: broadcast the
    * rank-indexed merge table, `mapPartitions` (the media-decode /
    * external-scorer precedent — genuine per-row imperative logic,
    * a data-dependent merge loop no fixed-depth expression can
    * express), and per word run [[encodeWord]]'s candidate-heap
    * replay of the in-rank-order semantics — spec-pinned equal to
    * [[encode]]. Emits (idCol, tokens). */
  def encodeBulk(docs: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(Int, String, String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // all ranks per pair (duplicate table entries both apply), and
    // sorted ascending so pushes enqueue in order
    val rankOf = merges.groupBy(t => (t._2, t._3))
      .map { case (p, ts) => (p, ts.map(_._1).sorted) }
    val byRank = merges.map(t => (t._1, (t._2, t._3))).toMap
    val bc = spark.sparkContext.broadcast((rankOf, byRank))
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (rk, br) = bc.value
        it.map { case (id, text) =>
          // NULL text stays NULL (encode propagates NULL
          // through split/trim/flatten — an empty array would be a
          // silent divergence from the spec-pinned equality);
          // trimSpaces, NOT String.trim: the word stream must split
          // exactly like the distributed `split(trim(col), " ")`
          val toks =
            if (text == null) null
            else trimSpaces(text).split(" ").iterator
              .filter(_.nonEmpty).flatMap(w => encodeWord(w, rk, br)).toArray
          (id, toks)
        }
      }.toDF(idCol, "tokens")
  }
}
