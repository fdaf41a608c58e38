package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{PromptFunctions => P}

/** Golden-layout gate for the FIREBALL prompt templates: every string
  * below is the output of the reference's prompts.py evaluated by hand
  * on the same inputs (stringify_actor short/long/description,
  * utt_cmd_prompt/completion, sta_nar variants) — byte-for-byte,
  * including the preserved double-space when the HP slot is empty and
  * the Class-before-Race line order.
  */
class PromptSpec extends SparkTestBase {
  import spark.implicits._

  // one fully-populated actor, one sparse actor (no race/effects), one
  // minimal actor (name only, empty hp slot)
  private def actors = Seq(
    ("Rolf", "Dwarf", "Wizard", "<38/40 HP; Healthy>", "Prone",
      "Longsword +2", "Fire Bolt", "Dash", "A sturdy dwarf."),
    ("Mira", "", "Rogue", "<6/40 HP; Critical>", "",
      "", "Cure Wounds", "", ""),
    ("Grub", "", "", "", "", "", "", "", "")
  ).toDF("name", "race", "clazz", "hp", "effects",
    "attacks", "spells", "actions", "description")

  private def one(c: org.apache.spark.sql.Column): String =
    actors.limit(1).select(c.as("v")).collect().head.getString(0)

  private def all(c: org.apache.spark.sql.Column): Seq[String] =
    actors.select(c.as("v")).collect().toSeq.map(_.getString(0))

  test("actor short line matches prompts.py:6-21 layout") {
    val shorts = all(P.actorShort($"name", $"race", $"clazz", $"hp", $"effects"))
    assert(shorts(0) == "Rolf (Dwarf; Wizard) <38/40 HP; Healthy> [Prone]")
    assert(shorts(1) == "Mira (Rogue) <6/40 HP; Critical>")
    // reference keeps the hp slot even when empty -> double space
    assert(shorts(2) == "Grub ")
  }

  test("actor long block matches prompts.py:36-48 (Class before Race, empty lines dropped)") {
    val longs = all(P.actorLong($"name", $"clazz", $"race", $"attacks",
      $"spells", $"actions", $"effects"))
    assert(longs(0) ==
      "Name: Rolf\nClass: Wizard\nRace: Dwarf\nAttacks: Longsword +2\nSpells: Fire Bolt\nActions: Dash\nEffects: Prone")
    assert(longs(1) == "Name: Mira\nClass: Rogue\nSpells: Cure Wounds")
    assert(longs(2) == "Name: Grub")
  }

  test("description block matches prompts.py:25-27") {
    val descs = all(P.actorDescription($"description"))
    assert(descs(0) == "Description: A sturdy dwarf.\n---\n")
    assert(descs(1) == "")
  }

  test("utt_cmd prompt + completion match prompts.py:55-103") {
    val df = Seq(1).toDF("i")
    val shorts = array(lit("Rolf (Dwarf; Wizard) <38/40 HP; Healthy> [Prone]"),
      lit("Mira (Rogue) <6/40 HP; Critical>"))
    val prompt = df.select(P.uttCmdPrompt(
      P.actorsBlock(shorts),
      lit("Name: Rolf\nClass: Wizard"),
      lit("I advance!\nAnd swing my axe.")).as("v")).collect().head.getString(0)
    assert(prompt ==
      "Actors:\n" +
        "- Rolf (Dwarf; Wizard) <38/40 HP; Healthy> [Prone]\n" +
        "- Mira (Rogue) <6/40 HP; Critical>\n" +
        "\n" +
        "Current:\nName: Rolf\nClass: Wizard\n" +
        "\n" +
        "I advance!\nAnd swing my axe.\n<|asep|>\n")

    // no actors -> block dropped entirely; null current -> "None"
    val sparse = df.select(P.uttCmdPrompt(
      P.actorsBlock(array()),
      lit(null).cast("string"),
      lit("rp")).as("v")).collect().head.getString(0)
    assert(sparse == "Current:\nNone\n\nrp\n<|asep|>\n")

    val completion = df.select(P.uttCmdCompletion(
      array(lit("!attack goblin"), lit("!cast firebolt"))).as("v"))
      .collect().head.getString(0)
    assert(completion == "!attack goblin\n<|csep|>\n!cast firebolt\n<|aeot|>")

    // the published "nostate" ablation (ablations=["actors","current"],
    // unit_test_prompts.py:57 / fewshot_predict.py:53): only the RP
    val nostate = df.select(P.uttCmdPromptNoState(
      lit("I advance!\nAnd swing my axe.")).as("v")).collect().head.getString(0)
    assert(nostate == "I advance!\nAnd swing my axe.\n<|asep|>\n")
  }

  test("sta_nar prompt variants match prompts.py:107-198") {
    val df = Seq(1).toDF("i")
    val prompt = df.select(P.staNarPrompt(
      P.historyBlock(array(lit("hello"), lit("there"))),
      P.actorsBlock(array(lit("Rolf <38/40 HP; Healthy>"))),
      P.targetsBlock(array(lit("Goblin <4/7 HP; Injured>"))),
      P.actorDescription(lit("A sturdy dwarf.")),
      lit("Name: Rolf"),
      lit("Rolf attacks Goblin: 17 to hit, 6 damage.")).as("v"))
      .collect().head.getString(0)
    assert(prompt ==
      "History:\nhello\nthere\n---\n" +
        "\n" +
        "Actors:\n- Rolf <38/40 HP; Healthy>\n" +
        "\n" +
        "Targets:\n- Goblin <4/7 HP; Injured>\n" +
        "\n" +
        "Description: A sturdy dwarf.\n---\nName: Rolf\n" +
        "\n" +
        "Rolf attacks Goblin: 17 to hit, 6 damage.\n<|asep|>\n")

    val cmdPrompt = df.select(P.staNarCommandUtterancePrompt(
      array(lit("!a"), lit("!b"))).as("v")).collect().head.getString(0)
    assert(cmdPrompt == "!a\n!b\n<|asep|>\n")

    val dialogPrompt = df.select(P.staNarDialogContinuationPrompt(
      array(lit("x"))).as("v")).collect().head.getString(0)
    assert(dialogPrompt == "x\n<|asep|>\n")

    val completion = df.select(P.staNarCompletion(
      array(lit("The goblin crumples."))).as("v")).collect().head.getString(0)
    assert(completion == "The goblin crumples.\n<|aeot|>")
  }

  test("ic/ooc finetune pair matches icooc/finertune_prep.py:24-33") {
    // q101 emits the pair: prompt `<utterance>\nlabel:`, completion
    // ` <label>` with the leading space the reference writes
    val rows = SparkEntry.queries("q101_icooc_finetune")(spark, sfDir).collect()
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      assert(r.getString(1) == (if (t == null) null else t + "\nlabel:"))
      assert(Set(" in-character", " out-of-character")(r.getString(2)))
    }
  }

  test("q62 assembles sta_nar prompts with the template skeleton") {
    val out = SparkEntry.queries("q62_sta_nar_assembly")(spark, sfDir).collect()
    assert(out.nonEmpty)
    var sawHistory = false
    var sawDescription = false
    for (r <- out) {
      val prompt = r.getAs[String]("prompt")
      // History/Targets/Description are data-dependent; Actors, the
      // caster Name line, and the automation line are always present
      assert(prompt.contains("Actors:\n- "))
      assert(prompt.contains("Name: u"))
      assert(prompt.contains(" casts #"))
      assert(prompt.endsWith("\n<|asep|>\n"))
      sawHistory ||= prompt.startsWith("History:\n")
      sawDescription ||= prompt.contains("Description: ")
      val completion = r.getAs[String]("completion")
      assert(completion.startsWith("u") && completion.endsWith("\n<|aeot|>"))
    }
    assert(sawHistory, "no prompt exercised the History block")
    assert(sawDescription, "no prompt exercised the caster Description block")
  }

  test("q59 assembles non-empty prompts with the template skeleton") {
    val out = SparkEntry.queries("q59_prompt_assembly")(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out.take(20)) {
      val prompt = r.getAs[String]("prompt")
      assert(prompt.startsWith("Actors:\n- "))
      assert(prompt.contains("\n\nCurrent:\nName: u"))
      assert(prompt.endsWith("\n<|asep|>\n"))
      val completion = r.getAs[String]("completion")
      assert(completion.startsWith("!p") && completion.endsWith("\n<|aeot|>"))
    }
  }
}
