package graft

/** Every [[Soak]] body once at a tiny size on the shared session:
  * sf0.001 with 2 copies for the data-dir soaks, a few thousand rows
  * for the synthetic ones. Each body's own `require` checks run too;
  * the printed walls and EXACT/BROKEN lines are only meaningful at the
  * soak sizes BENCH_SF10.md records. */
class SoakSpec extends SparkTestBase {
  private val tinyArgs: Seq[(String, Seq[String])] = Seq(
    "Ann" -> Seq(sfDir),
    "CC" -> Seq("1000"),
    "Capstone" -> Seq(sfDir, "2"),
    "CorpusOps" -> Seq(sfDir, "2"),
    "Dedup" -> Seq(sfDir),
    "Incr" -> Seq("2000"),
    "Incr5M" -> Seq("2000"),
    "Ivf2" -> Seq("2000", "128"),
    "IvfPq" -> Seq("2000", "32"),
    "KnnGraph" -> Seq(sfDir, "2"),
    "Mis" -> Seq("1000"),
    "NearDup" -> Seq(sfDir, "2"),
    "Order" -> Seq("20000"),
    "Substring" -> Seq(sfDir, "2"))

  test("every soak has a tiny-size run below") {
    assert(tinyArgs.map(_._1) == Soak.soaks.keys.toSeq)
  }

  for ((name, args) <- tinyArgs)
    test(s"soak $name runs at a tiny size") {
      Soak.run(spark, name, args)
    }

  test("Soak rejects an unknown name and lists the known ones") {
    val e = intercept[IllegalArgumentException](Soak.run(spark, "NoSuchSoak", Nil))
    assert(e.getMessage.contains("NoSuchSoak"))
    Soak.soaks.keys.foreach(k => assert(e.getMessage.contains(k), s"$k not listed"))
  }
}
