package graft.model

/** Core data model of the KG-construction engine.
  *
  * Mirrors the reference's sentence-annotation record (EventPlus,
  * /root/reference/project/APIs/main.py:146-230 and the golden schema in
  * /root/reference/component/Duration/Mu_test_data/ .pred.json), re-expressed
  * as fixed Spark schemas via case-class Encoders (SURVEY.md §1.3).
  *
  * All spans are token-index intervals, INCLUSIVE on both ends, exactly like
  * the reference (JsonBuilder.py:94-106).
  */

/** North-rule input row: an Iceberg-style table of source files.
  * (BASELINE.json input_hint.) */
case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** A sentence extracted from a source file's natural-language material
  * (comments/docs), tokenized once and shared by every downstream stage —
  * unlike the reference, which re-tokenizes per component and then
  * fuzz-joins (SURVEY.md P1/J1). */
case class Sentence(
    repo: String,
    path: String,
    contentSha: String,
    lineNum: Int,
    senNum: Int,
    sentence: String,
    tokens: Seq[String])

/** NER span: positional triple, reference JsonBuilder.py:43-44. */
case class NerSpan(start: Int, end: Int, label: String)

/** Trigger span (reference JsonBuilder.py:94-99). Single-token in the demo
  * config (B2I_trigger[B]=B, event_pipeline_demo.py:71-78), but the schema
  * keeps the interval form. */
case class Trigger(eventType: String, text: String, start: Int, end: Int)

/** Argument span with semantic role (reference JsonBuilder.py:100-105). */
case class Argument(role: String, text: String, start: Int, end: Int)

/** Event = type + triggers + arguments + duration class + speculation flag
  * (reference JsonBuilder.py:54-84, main.py:209-230). */
case class Event(
    eventType: String,
    triggers: Seq[Trigger],
    arguments: Seq[Argument],
    duration: String,
    speculation: Boolean)

/** Pairwise temporal relation between event trigger token positions
  * (reference joint_model.py:585-586). */
case class Relation(left: Int, right: Int, label: String)

/** Output triple row; subj/obj are canonical ids or literals, with lineage
  * columns carried through (FIXTURES.md §3). */
case class Triple(
    subj: String,
    pred: String,
    obj: String,
    repo: String,
    path: String,
    contentSha: String)

/** Quarantine row: per-record error capture replacing the reference's
  * try/except swallow (test_on_raw_text.py:107-117). */
case class QuarantineRow(
    repo: String,
    path: String,
    lineNum: Int,
    senNum: Int,
    stage: String,
    error: String)
