package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.tag.{Ontology, Taggers}
import graft.text.Text

class TaggersSpec extends AnyFunSuite with TempDirs {

  val sent = Text.tokenize("Yesterday George Pataki toured the hospital in New York.")
  // tokens: Yesterday George Pataki toured the hospital in New York .

  test("NER: gazetteer longest-match via Viterbi decode") {
    val ner = Taggers.nerSpans(sent)
    assert(ner == Seq(NerSpan(1, 2, "PER"), NerSpan(4, 5, "FAC"), NerSpan(7, 8, "GPE")))
  }

  test("triggers: lexicon + P11a mask (entity positions can't be triggers)") {
    val ner = Taggers.nerSpans(sent)
    val trig = Taggers.triggerSpans(sent, ner)
    assert(trig == Seq(Trigger("Movement:Transport", "toured", 3, 3)))
    // a trigger-lemma word inside an entity span must be masked out:
    val toks = Text.tokenize("Today the court found Acme Corp guilty.")
    val ner2 = Taggers.nerSpans(toks)
    assert(ner2.exists(s => s.label == "ORG" && toks(s.start) == "the"))
    val trig2 = Taggers.triggerSpans(toks, ner2)
    // "found" (Business:Start-Org lemma) is NOT inside an entity -> tagged;
    // but "court" sits inside "the court" ORG span and could never fire
    assert(trig2.forall(t => !ner2.exists(s => t.start >= s.start && t.start <= s.end)))
  }

  test("arguments: type-constrained subject/object/location roles with " +
      "P11b/c masks") {
    val ner = Taggers.nerSpans(sent)
    val trig = Taggers.triggerSpans(sent, ner).head
    val args = Taggers.argumentSpans(sent, ner, trig)
    // Transport binds Artifact to the moved PER ("George Pataki toured",
    // views.py:32-36) and Destination to the trailing location; "the
    // hospital" (FAC) is not Artifact-compatible, so the last location
    // after the trigger ("New York") is the Destination
    assert(args.toSet == Set(
      Argument("Artifact", "George Pataki", 1, 2),
      Argument("Destination", "New York", 7, 8)))
  }

  test("arguments: only roles valid for the trigger type (P11c)") {
    val ner = Taggers.nerSpans(sent)
    val trig = Taggers.triggerSpans(sent, ner).head
    val args = Taggers.argumentSpans(sent, ner, trig)
    val (s, o) = Ontology.RoleMap(trig.eventType)
    assert(args.map(_.role).toSet.subsetOf(
      Set(s, o, Ontology.locRoleOf(trig.eventType))))
  }

  test("segment bounds stop at connectives") {
    val toks = Text.tokenize("Today Mary Jones resigned before Wei Chen arrived in Texas.")
    val (s1, e1) = Taggers.segmentOf(toks, 3) // resigned
    assert(toks.slice(s1, e1) == Seq("Today", "Mary", "Jones", "resigned"))
    val (s2, e2) = Taggers.segmentOf(toks, 7) // arrived
    assert(toks.slice(s2, e2) == Seq("Wei", "Chen", "arrived", "in", "Texas"))
  }

  test("relation label: first connective strictly between heads; NONE otherwise") {
    val toks = Text.tokenize("Today Mary Jones resigned before Wei Chen arrived in Texas.")
    assert(Taggers.relationLabel(toks, 3, 7) == "BEFORE")
    assert(Taggers.relationLabel(toks, 3, 4) == "NONE") // nothing between
    val toks2 = Text.tokenize("The convoy left while the police marched.")
    assert(Taggers.relationLabel(toks2, 2, 6) == "SIMULTANEOUS")
  }

  test("head evidence: A1 mean-threshold semantics (joint_model.py:369)") {
    def detected(tok: String): Boolean = {
      val ev = Taggers.headEvidence(tok)
      ev.sum / ev.length > 0.5
    }
    assert(detected("toured")) // trigger lexicon, past form
    assert(detected("attack")) // base form, lexical only
    assert(detected("said")) // TempRel-only verb
    assert(!detected("hospital"))
    assert(!detected("Yesterday"))
  }

  test("negation: cue labels incl. manual 'not' override (P8) and scope (P9)") {
    val toks = Text.tokenize("Today the police did not arrest Mary Jones.")
    val cues = Taggers.negationCues(toks)
    assert(cues(4) == 1) // "not"
    assert(cues.count(_ == 1) == 1)
    val scope = Taggers.negationScope(toks, cues)
    assert(scope(5) == 1) // "arrest" in scope -> speculation
    assert(scope(3) == 0) // "did" before cue
    assert(scope.last == 0) // terminal "." excluded
    // multiword cue
    val mw = Text.tokenize("It was by no means a failure.")
    val mwCues = Taggers.negationCues(mw)
    assert(mwCues.slice(2, 5) == Seq(2, 2, 2))
  }

  test("duration: lexicon class per trigger lemma; blank for unknown (J2 blank)") {
    assert(Taggers.durationOf("toured") == "days")
    assert(Taggers.durationOf("attacked") == "mins")
    assert(Taggers.durationOf("said") == "") // TempRel-only verb: blank
    assert(Taggers.durationOf("hospital") == "")
  }

  test("S8 checkpoint: write/load round-trips the model tables exactly; corrupted checkpoints fail loudly") {
    import graft.tag.Checkpoint
    val tmp = tempDir("graft_ckpt_spec")
    val model = Checkpoint.fromOntology
    val file = Checkpoint.write(model, tmp.toString)
    val loaded = Checkpoint.load(file)
    assert(loaded.gazetteer == model.gazetteer)
    assert(loaded.triggerLexicon == model.triggerLexicon)
    assert(loaded.negationCues == model.negationCues)
    assert(loaded.maxGazLen == model.maxGazLen)
    // deterministic serialization: equal models, byte-identical files
    val again = Checkpoint.write(model, tmp.resolve("b").toString)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(file),
      java.nio.file.Files.readAllBytes(again)))
    // the loaded model drives the same decode as the compiled-in one
    assert(Taggers.nerSpansWith(sent, loaded.gazetteer, loaded.maxGazLen)
      == Taggers.nerSpans(sent))
    // strict load: bad header / unknown record kind / truncated row throw
    def corrupt(content: String): java.nio.file.Path = {
      val f = tmp.resolve(s"c${content.hashCode}.tsv")
      java.nio.file.Files.write(f, content.getBytes("UTF-8"))
      f
    }
    intercept[IllegalArgumentException] {
      Checkpoint.load(corrupt("graftlex\t2\ngaz\tx\tORG\n"))
    }
    intercept[IllegalArgumentException] {
      Checkpoint.load(corrupt("graftlex\t1\nweights\t0.5\n"))
    }
    intercept[IllegalArgumentException] {
      Checkpoint.load(corrupt("graftlex\t1\ngaz\tonlyonefield\n"))
    }
  }

  test("q48 leaves no checkpoint directory behind, also when it fails") {
    // without the golden corpora the query throws after loading its model
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpoints() = tmpRoot.list().filter(_.startsWith("graft_ckpt_q48")).toSet
    val before = checkpoints()
    try SparkEntry.queries("q48_checkpoint_ner")(TestSpark.spark, "unused").count()
    catch { case scala.util.control.NonFatal(_) => }
    assert((checkpoints() -- before).isEmpty)
  }

  test("event assembly drops nothing and blanks duration (P5 + main.py:173-175)") {
    val ner = Taggers.nerSpans(sent)
    val trig = Taggers.triggerSpans(sent, ner)
    val events = Taggers.assembleEvents(sent, ner, trig)
    assert(events.length == 1)
    assert(events.head.eventType == "Movement:Transport")
    assert(events.head.duration == "")
    assert(!events.head.speculation)
  }
}
