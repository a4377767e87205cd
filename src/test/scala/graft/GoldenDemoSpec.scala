package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{Pipeline, Triples}
import graft.model._
import graft.tag.Ontology

/** Pins the LIVE pipeline (taggers + TempRel + duration + negation — not
  * an annotation replay) to the reference's OWN documented expected
  * outputs, closing the last circularity of the golden gates:
  *
  *   1. the ACE demo sentence and its hardcoded expected output in
  *      /root/reference/component/BETTER/joint/README.md:15-18
  *      (tokens, the Movement:Transport event, its Artifact/Destination
  *      arguments, all five NER spans);
  *   2. the news demo text of /root/reference/project/APIs/main.py:246-249
  *      with the reference-hardcoded result for it in
  *      /root/reference/project/project/views.py:20-52 (tokens, the
  *      `toured` event, Artifact "George Pataki" / Destination "counties",
  *      duration "days", the four NER spans, and the EMPTY relation set);
  *   3. the speculation demo sentence of main.py:250-252, checked against
  *      the reference's documented speculation rule (main.py:226-230: an
  *      event whose trigger falls in a negation scope is speculated).
  *
  * Every expected value below is transcribed from those reference files —
  * none is derived from engine code.
  */
class GoldenDemoSpec extends AnyFunSuite {
  import GoldenDemoSpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The annotated sentences of one demo file, and its triples. */
  def run(path: String, text: String) = {
    val files = Seq(SourceFile("demo", path, "c0", "markdown", text)).toDS()
    val annotated = Pipeline.annotatedStage(spark, Pipeline.sentences(spark, files))
    val triples = Triples.materialize(spark, annotated.toDF(), distinct = false)
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    (annotated.collect().toSeq, triples)
  }

  // ---- 1. BETTER/joint/README.md:15-18 (ACE demo) ----


  /** Transcribed from README.md:17 ('tokens': [...]). */
  val aceTokens = Seq("Orders", "went", "out", "today", "to", "deploy",
    "17,000", "U.S.", "Army", "soldiers", "in", "the", "Persian", "Gulf",
    "region", ".")

  test("ACE demo: tokenizer reproduces the reference token list") {
    assert(graft.text.Text.tokenize(aceText) == aceTokens)
  }

  test("ACE demo: live pipeline reproduces the README's documented event, " +
      "arguments and NER") {
    val (tagged, triples) = run("ace.md", aceText)
    assert(tagged.length == 1)
    // ner: [[7,7,GPE],[8,8,ORG],[9,9,PER],[12,13,LOC],[14,14,LOC]]
    assert(tagged.head.ner.toSet == Set(
      NerSpan(7, 7, "GPE"), NerSpan(8, 8, "ORG"), NerSpan(9, 9, "PER"),
      NerSpan(12, 13, "LOC"), NerSpan(14, 14, "LOC")))
    // one event: Movement:Transport, trigger 'deploy' @ [5,5]
    assert(tagged.head.triggers ==
      Seq(Trigger("Movement:Transport", "deploy", 5, 5)))
    val typed = tagged.flatMap(_.events).filter(_.eventType.nonEmpty)
    assert(typed.length == 1)
    val e = typed.head
    val (eid, tpe, trig, args) = (e.eventId, e.eventType, e.trigText, e.args)
    assert(tpe == "Movement:Transport" && trig == "deploy")
    // arguments: Artifact 'soldiers' [9,9], Destination 'region' [14,14]
    assert(args.toSet == Set(
      Argument("Artifact", "soldiers", 9, 9),
      Argument("Destination", "region", 14, 14)))
    // and the same facts as materialized triples
    assert(triples.contains((eid, "hasType", "Movement:Transport")))
    assert(triples.contains((eid, "Artifact", "soldiers")))
    assert(triples.contains((eid, "Destination", "region")))
    assert(triples.filter(_._2 == "hasEntity").map(_._3) == Set(
      "GPE:U.S.", "ORG:Army", "PER:soldiers", "LOC:Persian Gulf",
      "LOC:region"))
  }

  // ---- 2. main.py:246-249 news text vs views.py:20-52 result_news ----


  /** Transcribed from views.py:21-23 ("tokens": [...]). */
  val newsTokens = Seq("A", "powerful", "ice", "storm", "continues", "to",
    "maintain", "its", "grip", ".", "Yesterday", "New", "York", "governor",
    "George", "Pataki", "toured", "five", "counties", "that", "have",
    "been", "declared", "under", "a", "state", "of", "emergency")

  test("news demo: sentence split + tokenizer reproduce the reference " +
      "token list") {
    val sents = graft.text.Text.sentSplit(newsText)
    assert(sents.length == 2)
    assert(sents.flatMap(graft.text.Text.tokenize) == newsTokens)
  }

  test("news demo: live pipeline reproduces views.py's documented event, " +
      "arguments, duration, NER and empty relation set") {
    val (sents, triples) = run("news.md", newsText)
    val tagged = sents.sortBy(_.senNum)
    assert(tagged.length == 2)
    val offset = tagged.head.tokens.length // sentence 2 starts at 10
    assert(offset == 10)
    // ner (document-global): [11,12,GPE] [13,13,PER] [14,15,PER] [18,18,GPE]
    val globalNer = tagged.flatMap(t =>
      t.ner.map(s => (s.start + (if (t.senNum == 1) offset else 0),
        s.end + (if (t.senNum == 1) offset else 0), s.label))).toSet
    assert(globalNer == Set((11, 12, "GPE"), (13, 13, "PER"),
      (14, 15, "PER"), (18, 18, "GPE")))
    // exactly one typed event: 'toured', Movement:Transport, duration days,
    // Artifact 'George Pataki', Destination 'counties', not speculated
    val typed = tagged.flatMap(_.events).filter(_.eventType.nonEmpty)
    assert(typed.length == 1)
    val e = typed.head
    val (eid, tpe, trig, trigStart, args, dur, spec) = (e.eventId,
      e.eventType, e.trigText, e.trigStart, e.args, e.duration, e.speculation)
    assert(tpe == "Movement:Transport" && trig == "toured")
    assert(trigStart + offset == 16) // views.py:28: start_token 16
    assert(args.map(a => (a.role, a.text)).toSet == Set(
      ("Artifact", "George Pataki"), ("Destination", "counties")))
    assert(dur == "days" && !spec)
    assert(triples.contains((eid, "hasDuration", "days")))
    // "relations": [] (views.py:51) — no temporal-relation triples at all
    val relPreds = Ontology.TempRelLabels.toSet
    assert(triples.forall(t => !relPreds.contains(t._2)))
    assert(triples.filter(_._2 == "hasEntity").map(_._3) == Set(
      "GPE:New York", "PER:governor", "PER:George Pataki", "GPE:counties"))
  }

  // ---- 3. main.py:250-252 speculation demo ----


  test("speculation demo: events inside the 'not' negation scope are " +
      "speculated (main.py:226-230 rule on the main.py:250 demo input)") {
    val (tagged, triples) = run("moz.md", mozText)
    assert(tagged.length == 1)
    val toks = tagged.head.tokens
    // the 'not' cue (P8 manual override) opens the scope
    val notIdx = toks.indexOf("not")
    assert(notIdx == 4 && tagged.head.negationCue(notIdx) == 1)
    // 'considering' is an event head (U1-injected, typeless) in scope
    val consIdx = toks.indexOf("considering")
    assert(consIdx == 5 && tagged.head.negationScope(consIdx) == 1)
    val specEvents = tagged.flatMap(_.events).filter(_.speculation)
      .map(_.trigText).toSet
    assert(specEvents.contains("considering"))
    // and as a materialized triple
    val eid = s"demo/moz.md#L0:S0:T$consIdx"
    assert(triples.contains((eid, "speculated", "true")))
    // no typed events in this sentence — nothing carries hasType
    assert(!triples.exists(_._2 == "hasType"))
  }
}

/** The three reference demo inputs (shared with OperatorSpec's kernel
  * equivalence check). */
object GoldenDemoSpec {

  // ---- 1. BETTER/joint/README.md:15-18 (ACE demo) ----

  val aceText = "Orders went out today to deploy 17,000 U.S. Army " +
    "soldiers in the Persian Gulf region ."

  // ---- 2. main.py:246-249 news demo ----

  val newsText = "A powerful ice storm continues to maintain its grip. " +
    "Yesterday New York governor George Pataki toured five counties " +
    "that have been declared under a state of emergency"

  // ---- 3. main.py:250-252 speculation demo ----

  val mozText = "The United States is not considering sending troops to " +
    "Mozambique to combat the terrorist threat in the northern province " +
    "of Cabo Delgado, but it is willing to boost \"civilian " +
    "counter-terrorism capabilities\", said the US Coordinator for " +
    "Counterterrorism, Nathan Sales, on Tuesday 8 December."

  val texts: Seq[String] = Seq(aceText, newsText, mozText)
}
