package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The FIREBALL prompt-format assembly as pure column functions — the
  * reference's `prompts.py` re-expressed so every template stays
  * inside whole-stage codegen and the assembled strings are
  * reproducible byte-for-byte by the DuckDB oracle.
  *
  * Layout fidelity (reference: prompts.py):
  *  - actor "short" line  — `Name (Race; Class) <X/Y HP; State> [Effects]`
  *    with each optional part dropped when empty, the HP slot kept
  *    even when empty exactly like `short_parts.append(actor["hp"])`
  *    (prompts.py:6-21);
  *  - actor "long" block  — `Name:`/`Class:`/`Race:`/`Attacks:`/
  *    `Spells:`/`Actions:`/`Effects:` lines, empty fields dropped,
  *    Class before Race (prompts.py:36-48);
  *  - description block   — `Description: ...\n---\n` or empty
  *    (prompts.py:25-27);
  *  - utt→cmd prompt      — Actors block, `Current:` block (`None`
  *    when absent), RP, joined by blank lines, `<|asep|>` terminator
  *    (prompts.py:55-98); completion = commands joined by `<|csep|>`
  *    + `<|aeot|>` (prompts.py:101-103);
  *  - sta→nar prompt      — History/Actors/Targets/caster/automation
  *    blocks (prompts.py:107-169) and the command-utterance /
  *    dialog-continuation variants (prompts.py:172-185) +
  *    completion (prompts.py:188-198).
  */
object PromptFunctions {

  /** `\n<|asep|>\n` — prompt/answer separator (prompts.py:1). */
  val Sep = "\n<|asep|>\n"
  /** `\n<|csep|>\n` — between commands in a completion (prompts.py:2). */
  val CommandSep = "\n<|csep|>\n"
  /** `\n<|aeot|>` — completion stop sequence (prompts.py:3). */
  val StopSeq = "\n<|aeot|>"

  private def nonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  /** Empty-as-missing: "" → NULL so concat_ws drops the part (both
    * engines' concat_ws skip NULLs but keep empty strings). */
  private def blankNull(c: Column): Column = nullif(c, lit(""))

  /** `Race; Class` with empty parts dropped (prompts.py:9-14). */
  def raceAndClass(race: Column, clazz: Column): Column =
    concat_ws("; ", blankNull(race), blankNull(clazz))

  /** Actor short line (prompts.py:8-21, 50). `hpStr` is the already-
    * formatted `<X/Y HP; State>` from [[TextFunctions.hpState]]; the
    * HP slot is appended unconditionally (a missing HP leaves the
    * reference's double space — preserved). */
  def actorShort(name: Column, race: Column, clazz: Column,
                 hpStr: Column, effects: Column): Column = {
    val rc = raceAndClass(race, clazz)
    concat(
      name,
      when(nonEmpty(rc), concat(lit(" ("), rc, lit(")"))).otherwise(lit("")),
      lit(" "), coalesce(hpStr, lit("")),
      when(nonEmpty(effects), concat(lit(" ["), effects, lit("]"))).otherwise(lit("")))
  }

  private def optLine(label: String, c: Column): Column =
    when(nonEmpty(c), concat(lit("\n" + label), c)).otherwise(lit(""))

  /** Actor long block (prompts.py:36-48): Name always, then Class,
    * Race, Attacks, Spells, Actions, Effects — each line only when
    * the field is non-empty. */
  def actorLong(name: Column, clazz: Column, race: Column,
                attacks: Column, spells: Column, actions: Column,
                effects: Column): Column =
    concat(
      lit("Name: "), name,
      optLine("Class: ", clazz),
      optLine("Race: ", race),
      optLine("Attacks: ", attacks),
      optLine("Spells: ", spells),
      optLine("Actions: ", actions),
      optLine("Effects: ", effects))

  /** `Description: ...\n---\n`, or empty (prompts.py:25-27). */
  def actorDescription(description: Column): Column =
    when(nonEmpty(description),
      concat(lit("Description: "), description, lit("\n---\n")))
      .otherwise(lit(""))

  /** `Actors:\n- <short>\n- ...` from an ARRAY of short lines, empty
    * when no actors (prompts.py:85-88). */
  def actorsBlock(shorts: Column): Column = listBlock("Actors:", shorts)

  /** `Targets:` variant of the same block (prompts.py:157-161). */
  def targetsBlock(shorts: Column): Column = listBlock("Targets:", shorts)

  private def listBlock(header: String, shorts: Column): Column =
    when(shorts.isNotNull && size(shorts) > 0,
      concat(lit(header + "\n"),
        array_join(transform(shorts, s => concat(lit("- "), s)), "\n")))
      .otherwise(lit(""))

  /** [[actorsBlock]] over an ALREADY-JOINED string of
    * `- `-prefixed lines (the ordered-listagg aggregation path: the
    * aggregate emits the newline-joined block body directly, so no
    * struct array is ever built or sorted post-hoc). NULL/empty →
    * empty block, like the array forms. */
  def actorsBlockOfJoined(joined: Column): Column =
    when(nonEmpty(joined), concat(lit("Actors:\n"), joined)).otherwise(lit(""))

  /** `History:\n<utterances>\n---`, empty when no history
    * (prompts.py:146-149). */
  def historyBlock(utterances: Column): Column =
    when(utterances.isNotNull && size(utterances) > 0,
      concat(lit("History:\n"), array_join(utterances, "\n"), lit("\n---")))
      .otherwise(lit(""))

  /** [[historyBlock]] over the already-joined utterance string. */
  def historyBlockOfJoined(joined: Column): Column =
    when(nonEmpty(joined), concat(lit("History:\n"), joined, lit("\n---")))
      .otherwise(lit(""))

  /** Utterance→command prompt (prompts.py:55-98): Actors block (when
    * present), `Current:` long block (`None` when the current actor is
    * missing), the before-RP — blank-line joined, `<|asep|>`
    * terminated. Callers must already have dropped rows with no
    * before-utterances (the reference returns None for those). */
  def uttCmdPrompt(actorsBlk: Column, currentLong: Column, rp: Column): Column =
    concat(
      concat_ws("\n\n",
        blankNull(actorsBlk),
        concat(lit("Current:\n"),
          coalesce(blankNull(currentLong), lit("None"))),
        rp),
      lit(Sep))

  /** The "nostate" utt→cmd ablation (prompts.py:87-92 with
    * ablations=["actors","current"] — the published ablation pair:
    * unit_test_prompts.py:57 `abl_prompt`, fewshot_predict.py:53
    * `prompt_nostate`): Actors and Current blocks dropped, leaving
    * only the before-RP + separator. */
  def uttCmdPromptNoState(rp: Column): Column = concat(rp, lit(Sep))

  /** Completion for utt→cmd: commands `<|csep|>`-joined + `<|aeot|>`
    * (prompts.py:101-103). `commands` is an ARRAY column. */
  def uttCmdCompletion(commands: Column): Column =
    concat(array_join(commands, CommandSep), lit(StopSeq))

  /** State→narration prompt (prompts.py:107-169): History, Actors,
    * Targets blocks (each dropped when empty), the caster
    * description+long block, the stringified automation results. */
  def staNarPrompt(historyBlk: Column, actorsBlk: Column,
                   targetsBlk: Column, casterDescription: Column,
                   casterLong: Column, automation: Column): Column =
    concat(
      concat_ws("\n\n",
        blankNull(historyBlk),
        blankNull(actorsBlk),
        blankNull(targetsBlk),
        concat(coalesce(casterDescription, lit("")), casterLong),
        automation),
      lit(Sep))

  /** Commands-only prompt variant (prompts.py:172-177). */
  def staNarCommandUtterancePrompt(commands: Column): Column =
    concat(array_join(commands, "\n"), lit(Sep))

  /** Dialog-continuation prompt variant (prompts.py:180-185). */
  def staNarDialogContinuationPrompt(history: Column): Column =
    concat(array_join(history, "\n"), lit(Sep))

  /** State→narration completion: after-utterances + `<|aeot|>`;
    * callers drop rows with no after-utterances (prompts.py:188-198). */
  def staNarCompletion(after: Column): Column =
    concat(array_join(after, "\n"), lit(StopSeq))

  /** [[staNarCompletion]] over the already-joined utterance string. */
  def staNarCompletionOfJoined(joined: Column): Column =
    concat(joined, lit(StopSeq))
}
