package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.TrainTestSplit
import graft.queries.TextOps

/** Exercises the reference regexes on crafted Discord-shaped strings
  * (the synthetic corpus has no mentions/emoji/parens) plus split
  * determinism invariants.
  */
class TextOpsSpec extends SparkTestBase {

  private def one(text: String, c: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(text).toDF("text").select(c.as("out")).first().getString(0)
  }

  test("OOC aside scrub matches distill3a semantics") {
    assert(one("attack (ooc: brb) the goblin (sorry)", scrubOoc(col("text")))
      == "attack  the goblin")
    assert(one("(entirely ooc)", scrubOoc(col("text"))) == "")
  }

  test("mention and emoji normalization matches distill4 semantics") {
    assert(one("hi <@123456789012345678> go", normalizeMessage(col("text"))) == "hi  go")
    assert(one("role <@&123456789012345678> ch <#123456789012345678>",
      normalizeMessage(col("text"))) == "role  ch ")
    assert(one("nice <a:clap:123456789012345678>!", normalizeMessage(col("text"))) == "nice :clap:!")
    assert(one("x <:sword:12345678901234567> y", normalizeMessage(col("text"))) == "x :sword: y")
    // short ids (not Discord snowflakes) are untouched
    assert(one("a <@123> b", normalizeMessage(col("text"))) == "a <@123> b")
  }

  test("ooc heuristic flags") {
    import spark.implicits._
    val got = Seq("(aside from me", "that was OOC sorry", "pure in-character", "OOG note")
      .toDF("text").select(isOoc(col("text")).as("f")).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 1, 0, 1))
  }

  test("train/test split is deterministic, complete, and roughly 8/1/1") {
    val d = Tables.documents(spark, sfDir)
    val s1 = TrainTestSplit(d, "doc_id").select("doc_id", "split")
    val s2 = TrainTestSplit(d, "doc_id").select("doc_id", "split")
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train").toDouble / total > 0.6)
  }

  test("leakage-free split: near-dup families never straddle the boundary") {
    import spark.implicits._
    import graft.operators.TrainTestSplit
    // chain {1,2,3} is one cluster (group key 1); {10,11} another;
    // 20 is unpaired and keys on itself
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val r = TrainTestSplit.leakageFree(docs, pairs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("group_key"), x.getAs[String]("split"))).toMap
    assert(r(1L)._1 == 1L && r(2L)._1 == 1L && r(3L)._1 == 1L)
    assert(r(10L)._1 == 10L && r(11L)._1 == 10L)
    assert(r(20L)._1 == 20L)
    // the leakage property: every family lands on one side
    assert(Set(r(1L)._2, r(2L)._2, r(3L)._2).size == 1, s"family split: $r")
    assert(r(10L)._2 == r(11L)._2)
    // and the assignment is the document split of the group key
    val byKey = TrainTestSplit(docs.select(col("doc_id").as("group_key")),
      "group_key").collect()
      .map(x => x.getAs[Long]("group_key") -> x.getAs[String]("split")).toMap
    assert(r(1L)._2 == byKey(1L) && r(10L)._2 == byKey(10L) &&
      r(20L)._2 == byKey(20L))
  }

  test("actor HP bucketing matches distill4 ratio boundaries") {
    import spark.implicits._
    val rows = Seq(
      (20, 20), (19, 20), (11, 20), (10, 20), (4, 20), (3, 20), (1, 20), (0, 20), (-2, 20))
      .toDF("hp", "max_hp")
      .select(hpBucket(col("hp"), col("max_hp")).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("Healthy", "Injured", "Injured", "Bloodied", "Bloodied",
      "Critical", "Critical", "Dead", "Dead"))
    val disp = Seq((10, 20)).toDF("hp", "max_hp")
      .select(hpState(col("hp"), col("max_hp")).as("s")).first().getString(0)
    assert(disp == "<10/20 HP; Bloodied>")
  }

  test("command prefix normalization replaces first occurrence only") {
    import spark.implicits._
    val got = Seq(
      ("$atk longsword", "$"),
      ("a$b$c", "$"),
      ("no prefix here", "$"),
      ("!!cast", "!!"))
      .toDF("content", "prefix")
      .select(normalizeCommandPrefix(col("content"), col("prefix")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("!atk longsword", "a!b$c", "no prefix here", "!cast"))
  }

  test("anonymize numbers authors densely in appearance order, ties split deterministically") {
    import spark.implicits._
    // authors cd tie on first_seen=5: numbered by author value; a NULL
    // author is ranked first (NULLS FIRST) and its rows are kept
    val df = Seq(
      (5L, Some("cc")), (5L, Some("bd")), (6L, Some("aa")),
      (2L, Some("zz")), (7L, Option.empty[String]), (1L, Option.empty[String]),
      (8L, Some("cc")))
      .toDF("doc_id", "source")
    val got = operators.Anonymize(df, "doc_id", "source", orderCol = "doc_id")
      .select("source", "player").distinct()
      .collect().map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(got == Map(
      None -> "Player 1", Some("zz") -> "Player 2", Some("bd") -> "Player 3",
      Some("cc") -> "Player 4", Some("aa") -> "Player 5"))
    // dense: K distinct authors -> players exactly 1..K
    assert(got.values.toSet == (1 to 5).map(n => s"Player $n").toSet)
  }

  test("byte-scan bpe_token_count == regexp_count(BpeTokenRe) on adversarial and random text") {
    import spark.implicits._
    // Adversarial: class boundaries, uppercase (symbol class!), all six
    // whitespace chars incl \x0B, multi-byte code points (2/3/4-byte
    // UTF-8 — each must count as ONE symbol), empty, runs at ends.
    val crafted = Seq(
      "", " ", "abc", "ABC", "abc123", "a1b2c3", "  ab  12  ",
      "hello, world! 42", "a\tb\ncd\fe\rf", "!!!", "a!a!a",
      "café touché", "日本語 abc", "a😀b",
      "😀😀", "Mixed CASE and 007 bond",
      "trailing letters abc", "123 leading digits", "", "z9z9z9")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab z09AZ!.\t\n\f\ré日😀"
    val random = (1 to 300).map { _ =>
      val len = rnd.nextInt(40)
      // nextInt over a fixed alphabet keeps surrogate PAIRS intact only
      // by luck; filter lone surrogates so the string is valid UTF-8
      val raw = Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
      raw.filter(c => !Character.isSurrogate(c)) + (if (rnd.nextBoolean()) "😀" else "")
    }
    // ws-split edge cases: space-trim vs non-space ws at the ends
    // (split keeps the empty edge fields), all-ws, single ws char
    val wsCrafted = Seq("\ta b\n", "  \ta b\n  ", "\t", "\t\t", "a\t", "\ta", " \t ")
    val df = (crafted ++ wsCrafted ++ random).toDF("text")
      .select(bpeTokenCount(col("text")).as("fast"),
        bpeTokenCountRegex(col("text")).as("ref"),
        wsTokenCount(col("text")).as("wfast"),
        wsTokenCountRegex(col("text")).as("wref"), col("text"))
    val bad = df.filter(col("fast") =!= col("ref") || col("wfast") =!= col("wref")).collect()
    assert(bad.isEmpty, s"mismatch on: ${bad.map(_.getString(4)).take(5).toSeq}")
    // null in -> null out, matching regexp_count's null semantics
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(bpeTokenCount(col("text")).as("c"), wsTokenCount(col("text")).as("w")).collect()
    assert(nulls.head.isNullAt(0) && nulls.head.isNullAt(1))
  }

  test("byte-scan ws_collapse == regexp_replace(WsPlusRe, ' ') on adversarial and random text") {
    import spark.implicits._
    val crafted = Seq(
      "", " ", "  ", "a", " a ", "a  b", "a \t b", "\t", "\t\t",
      "a\tb\ncd\fe\rf", "", "ab", " \t\n\f\r ",
      "no runs here", "café  touché", "日本語\t\tabc", "a😀  b", "tail  ")
    val rnd = new scala.util.Random(7)
    val alphabet = "ab z09 !.\t\n\f\ré日"
    val random = (1 to 300).map { _ =>
      Array.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (crafted ++ random).toDF("text")
      .select(graft.plans.WsCollapse(col("text")).as("fast"),
        wsCollapseRegex(col("text")).as("ref"), col("text"))
    val bad = df.filter(col("fast") =!= col("ref")).collect()
    assert(bad.isEmpty, s"mismatch on: ${bad.map(_.getString(2)).take(5).toSeq}")
    // null in -> null out; fingerprint stays md5-stable through the swap
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(graft.plans.WsCollapse(col("text")).as("c")).collect()
    assert(nulls.head.isNullAt(0))
    val fp = (crafted ++ random).toDF("text").select(
      fingerprint(col("text")).as("fast"),
      md5(lower(trim(wsCollapseRegex(col("text"))))).as("ref"))
    assert(fp.filter(col("fast") =!= col("ref")).isEmpty)
  }

  test("one-pass text_stats == composed split/translate/filter forms") {
    import spark.implicits._
    // stopword-adversarial: cased stopwords (must match), stopwords
    // with punctuation attached (must not), Turkish İ (lowercases to
    // "i̇" — 2 code points, can never equal "it"/"in"/"is"), KELVIN
    // sign (lowercases to ASCII k — no stopword contains k),
    // fullwidth letters, multi-byte and astral chars inside words,
    // double spaces (empty segments), space-only trims
    val crafted = Seq(
      "", " ", "  ", "a", "A", "The AND iT IS of", "the  and", " a ",
      "İt İN İs türkçe", "KELVIN K Kit", "ＡＮ ｉｔ fullwidth",
      "a\tb the", "on!", "(an)", "it, it", "café The 中文 and",
      "a😀b the", "  double  spaces  ", "UPPER PUNCT Count",
      "to to to", "andy island ofit", "tO oN iN aN", "THE", "And")
    val rnd = new scala.util.Random(7)
    val alphabet = "ab thendofisA T!.(),\t\né中"
    val random = (1 to 300).map { _ =>
      Array.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (crafted ++ random).toDF("text").select(
      textStats(col("text")).as("st"),
      size(split(trim(col("text")), " ")).cast("bigint").as("w_ref"),
      punctCount(col("text")).as("p_ref"),
      stopwordCount(words(lower(col("text")))).as("s_ref"),
      col("text"))
    val bad = df.filter(col("st.n_words") =!= col("w_ref") ||
      col("st.n_punct") =!= col("p_ref") || col("st.n_stop") =!= col("s_ref"))
      .collect()
    assert(bad.isEmpty, s"mismatch on: ${bad.map(_.getString(4)).take(5).toSeq}")
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(textStats(col("text")).as("st")).collect()
    assert(nulls.head.isNullAt(0))
    // and on the full documents corpus
    val d = Tables.documents(spark, sfDir)
    val badCorpus = d.select(
        textStats(col("text")).as("st"),
        size(split(trim(col("text")), " ")).cast("bigint").as("w_ref"),
        punctCount(col("text")).as("p_ref"),
        stopwordCount(words(lower(col("text")))).as("s_ref"))
      .filter(col("st.n_words") =!= col("w_ref") ||
        col("st.n_punct") =!= col("p_ref") || col("st.n_stop") =!= col("s_ref"))
      .count()
    assert(badCorpus == 0)
  }

  test("byte-scan bpe_token_count == regex on the full documents corpus") {
    val d = Tables.documents(spark, sfDir)
    val bad = d.select(bpeTokenCount(col("text")).as("fast"),
        bpeTokenCountRegex(col("text")).as("ref"),
        wsTokenCount(col("text")).as("wfast"),
        wsTokenCountRegex(col("text")).as("wref"))
      .filter(col("fast") =!= col("ref") || col("wfast") =!= col("wref")).count()
    assert(bad == 0)
  }

  test("bpe train: the literature's hand example merges in order") {
    import spark.implicits._
    import graft.operators.BpeTrain
    // Sennrich-style toy: counts low:5, lower:2, newest:6, widest:3.
    // Weighted pair counts put (e,s) and (s,t) at 9 — tie broken
    // pair-ascending -> round 1 merges (e,s); round 2 (es,t) at 9;
    // round 3 the l-o / o-w tie at 7 -> (l,o).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val merges = BpeTrain.train(d, 3)
    assert(merges == Seq((1, "e", "s", "es"), (2, "es", "t", "est"),
      (3, "l", "o", "lo")), s"merges: $merges")
    // encoding with the trained table segments as the algorithm does
    val toks = Seq(("newest low")).toDF("text")
      .select(BpeTrain.encode(col("text"), merges).as("t"))
      .first().getSeq[String](0)
    assert(toks == Seq("n", "e", "w", "est", "lo", "w"), s"tokens: $toks")
  }

  test("tfidf keywords: hand-computed integer-idf ranking") {
    import spark.implicits._
    import graft.operators.Keywords
    // N=4; df: apple 1, banana 3, cherry 2, date 1
    // idf = floor(log2(N/df)): apple 2, banana 0, cherry 1, date 2
    val d = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"),
      (4L, "banana")).toDF("doc_id", "text")
    val r = Keywords.tfidfTopK(d, 3).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getString(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r((1L, 1L)) == (("apple", 2L, 1L, 4L)), s"d1r1: ${r((1L, 1L))}")
    assert(r((1L, 2L)) == (("banana", 1L, 3L, 0L)))
    assert(r((3L, 1L)) == (("cherry", 3L, 2L, 3L)))
    assert(r((3L, 2L)) == (("date", 1L, 1L, 2L)))
    // df = N terms score 0 but still rank (common-term suppression)
    assert(r((4L, 1L)) == (("banana", 1L, 3L, 0L)))
  }

  test("bpe trainLocal equals the distributed train: hand example") {
    import spark.implicits._
    import graft.operators.BpeTrain
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val local = BpeTrain.trainLocal(d, 3)
    assert(local == Seq((1, "e", "s", "es"), (2, "es", "t", "est"),
      (3, "l", "o", "lo")), s"local merges: $local")
    assert(local == BpeTrain.train(d, 3))
  }

  test("bpe trainLocal equals the distributed train: randomized corpus") {
    import spark.implicits._
    import graft.operators.BpeTrain
    // seeded pseudo-random corpus: short alphabet so merges chain
    // deep and ties are common (the argmax-order stress case)
    val rnd = new scala.util.Random(86)
    val words = Seq.fill(400)(
      (0 to rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val d = words.grouped(40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val dist = BpeTrain.train(d, 25)
    val local = BpeTrain.trainLocal(d, 25)
    assert(local == dist, s"local $local\n!= dist $dist")
    // exhaustion: both stop at the same (possibly shorter) table
    assert(BpeTrain.trainLocal(d, 10000).size ==
      BpeTrain.train(d, 10000).size)
  }

  test("bpe trainLocal maxVocab truncation is the deterministic heavy-hitter cut") {
    import spark.implicits._
    import graft.operators.BpeTrain
    // corpus with a clear head: truncating to the top-2 word types
    // must train exactly as if the tail words were absent
    val text = (Seq.fill(9)("abab") ++ Seq.fill(7)("abcd") ++
      Seq.fill(2)("zzq") ++ Seq.fill(1)("qqz")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val headOnly = Seq((1L, (Seq.fill(9)("abab") ++ Seq.fill(7)("abcd"))
      .mkString(" "))).toDF("doc_id", "text")
    assert(BpeTrain.trainLocal(d, 5, maxVocab = 2) ==
      BpeTrain.trainLocal(headOnly, 5))
  }

  test("bpe encodeBulk equals the inline encoder (hand + randomized)") {
    import spark.implicits._
    import graft.operators.BpeTrain
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = BpeTrain.trainLocal(Seq((1L, text)).toDF("doc_id", "text"), 3)
    // doc 4: NULL text — encode propagates NULL through
    // split/trim/flatten; encodeBulk must too (not an empty array)
    val docs = Seq((1L, Option("newest low")), (2L, Option("widest lowest")),
      (3L, Option(" ")), (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    val inline = docs.select(col("doc_id"),
      BpeTrain.encode(col("text"), merges).as("tokens"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val bulk = BpeTrain.encodeBulk(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bulk == inline, s"bulk $bulk != inline $inline")
    // randomized deep-merge stress: short alphabet, 25 merges, the
    // candidate-heap replay must equal the sequential fold everywhere
    val rnd = new scala.util.Random(87)
    val ws = Seq.fill(300)(
      (0 to rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val corpus = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
    val m2 = BpeTrain.trainLocal(corpus, 25)
    val probe = ws.grouped(30).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val in2 = probe.select(col("doc_id"),
      BpeTrain.encode(col("text"), m2).as("tokens"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val bk2 = BpeTrain.encodeBulk(probe, "doc_id", "text", m2)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bk2 == in2, s"bulk != inline on randomized corpus")
  }

  test("bpe local paths match distributed semantics on the review's edge cases") {
    import spark.implicits._
    import graft.operators.BpeTrain
    // (a) control chars: Spark trim strips ONLY ASCII space — a tab
    // or newline survives into the word stream. Java String.trim
    // would strip them and silently diverge (the round-12 review
    // finding; trimSpaces replicates Spark).
    // (b) supplementary plane: Spark substr/length count CODE
    // POINTS — an emoji is one symbol; UTF-16 code-unit splitting
    // would make it two lone surrogates.
    val texts = Seq(
      (1L, "\tlow low\n lower  low"),
      (2L, "new😀est new😀est wid😀est"))
    val d = texts.toDF("doc_id", "text")
    val dist = BpeTrain.train(d, 4)
    val local = BpeTrain.trainLocal(d, 4)
    assert(local == dist, s"local $local != dist $dist on edge corpus")
    val inline = d.select(col("doc_id"),
      BpeTrain.encode(col("text"), dist).as("tokens"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val bulk = BpeTrain.encodeBulk(d, "doc_id", "text", dist)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bulk == inline, s"bulk $bulk != inline $inline on edge corpus")
  }

  test("bpe encodeBulk applies 0-based (and negative) caller rank domains") {
    import spark.implicits._
    import graft.operators.BpeTrain
    // train/trainLocal emit ranks from 1, but an externally loaded
    // table may be 0-based — every rank must apply, including <= 0
    // (the round-12 advice: a 0 heap seed silently skipped them)
    val zeroBased = Seq((0, "l", "o", "lo"), (1, "lo", "w", "low"))
    val negBased = Seq((-1, "l", "o", "lo"), (0, "lo", "w", "low"))
    val d = Seq((1L, "low lower")).toDF("doc_id", "text")
    for (tbl <- Seq(zeroBased, negBased)) {
      val bulk = BpeTrain.encodeBulk(d, "doc_id", "text", tbl)
        .collect().map(_.getSeq[String](1)).head
      assert(bulk == Seq("low", "low", "e", "r"),
        s"rank domain ${tbl.map(_._1)} not fully applied: $bulk")
    }
  }

  test("bpe encodeWord applies BOTH ranks of a duplicated merge-table pair") {
    import graft.operators.BpeTrain
    // a table can legitimately contain the same pair twice; the
    // sequential fold applies it at both ranks. A last-rank-only map
    // would defer (a,b) to rank 3 and let (b,b) steal the b first:
    // "abb" -> [a, bb] instead of the sequential [ab, b].
    val merges = Seq((1, "a", "b", "ab"), (2, "b", "b", "bb"), (3, "a", "b", "ab"))
    val rankOf = merges.groupBy(t => (t._2, t._3))
      .map { case (p, ts) => (p, ts.map(_._1).sorted) }
    val byRank = merges.map(t => (t._1, (t._2, t._3))).toMap
    def sequential(w: String): Seq[String] =
      merges.sortBy(_._1).foldLeft(BpeTrain.charSymsLocal(w)) {
        case (acc, (_, a, b, _)) => BpeTrain.mergeSymsLocal(acc, a, b)
      }.toSeq
    for (w <- Seq("abb", "abab", "bba", "aabbb", "babab"))
      assert(BpeTrain.encodeWord(w, rankOf, byRank).toSeq == sequential(w),
        s"heap != sequential on '$w'")
    assert(BpeTrain.encodeWord("abb", rankOf, byRank).toSeq == Seq("ab", "b"))
  }

  test("bpe mergeSyms is greedy left-to-right and non-overlapping") {
    import spark.implicits._
    import graft.operators.BpeTrain
    def syms(w: String, a: String, b: String): Seq[String] =
      Seq(w).toDF("w")
        .select(BpeTrain.mergeSyms(BpeTrain.charSyms(col("w")),
          lit(a), lit(b)).as("s"))
        .first().getSeq[String](0)
    assert(syms("aaa", "a", "a") == Seq("aa", "a"))
    assert(syms("aaaa", "a", "a") == Seq("aa", "aa"))
    assert(syms("aab", "a", "b") == Seq("a", "ab"))
    assert(syms("ba", "a", "b") == Seq("b", "a"))
  }

  test("all text queries execute and key by doc_id uniquely") {
    for (q <- TextOps.all) {
      val df = q.run(spark, sfDir)
      val n = df.count()
      assert(n > 0, s"${q.name} returned no rows")
      // q86 is corpus-level (pair key); q87 keys by (doc_id, rank)
      if (df.columns.contains("rank"))
        assert(df.select("doc_id", "rank").distinct().count() == n,
          s"${q.name} duplicated (doc_id, rank)")
      else if (df.columns.contains("doc_id"))
        assert(df.select("doc_id").distinct().count() == n, s"${q.name} duplicated doc_id")
      else if (df.columns.contains("piece"))
        assert(df.select("piece").distinct().count() == n,
          s"${q.name} duplicated piece key")
      else
        assert(df.select("lft", "rgt").distinct().count() == n,
          s"${q.name} duplicated pair key")
    }
  }
}
