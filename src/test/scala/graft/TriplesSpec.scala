package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Synth
import graft.kg.{Pipeline, Triples}
import graft.model.{NerSpan, SourceFile, Trigger}
import graft.sources.Sources
import graft.text.Text

/** The triple rules: the per-sentence kernel against the Catalyst rule
  * branches it replaced, the golden-annotation ingest, and the scans of
  * the committed `triples` write. */
class TriplesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- the kernel vs the Catalyst rule branches ----

  /** The five single-sentence rules as the Catalyst branches emit ran over
    * the flat tagged, event and relation frames of an annotated frame —
    * the reference `Triples.sentenceTriples` is checked against. The
    * relation branch takes its lineage through a `sentKey` join, so the
    * inputs below give each sentence its own `sentKey`. */
  def branchTriples(annotated: DataFrame): DataFrame = {
    val tagged = annotated.drop("events", "relations")
    val events = annotated.select(explode(col("events")).as("e")).select(col("e.*"))
    val relations = annotated.select(explode(col("relations")).as("r"))
      .select(col("r.*"))
    val lineage = Seq(col("repo"), col("path"), col("contentSha"))
    val hasType = events.filter(col("eventType") =!= "")
      .select(Seq(col("eventId").as("subj"), lit("hasType").as("pred"),
        col("eventType").as("obj")) ++ lineage: _*)
    val durTriples = events.filter(col("duration") =!= "")
      .select(Seq(col("eventId").as("subj"), lit("hasDuration").as("pred"),
        col("duration").as("obj")) ++ lineage: _*)
    val specTriples = events.filter(col("speculation") === true)
      .select(Seq(col("eventId").as("subj"), lit("speculated").as("pred"),
        lit("true").as("obj")) ++ lineage: _*)
    val sentMeta = tagged.select(col("sentKey"), col("repo"), col("path"),
      col("contentSha"))
    val relTriples = relations.join(sentMeta, Seq("sentKey"))
      .select(Seq(
        concat(col("sentKey"), lit(":T"), col("lAligned")).as("subj"),
        col("label").as("pred"),
        concat(col("sentKey"), lit(":T"), col("rAligned")).as("obj")) ++ lineage: _*)
    val entTriples = tagged
      .select(col("repo"), col("path"), col("contentSha"), col("tokens"),
        explode(col("ner")).as("n"))
      .select(Seq(
        concat(col("repo"), lit("/"), col("path")).as("subj"),
        lit("hasEntity").as("pred"),
        concat(col("n.label"), lit(":"),
          array_join(slice(col("tokens"), col("n.start") + 1,
            col("n.end") - col("n.start") + 1), " ")).as("obj")) ++ lineage: _*)
    hasType.unionByName(durTriples).unionByName(specTriples)
      .unionByName(relTriples).unionByName(entTriples)
  }

  def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** The kernel gives the branches' six-column multiset; returns it. */
  def assertKernelMatches(annotated: Dataset[Pipeline.AnnotatedSentence]): Seq[T6] = {
    val kernel = annotated.collect().toSeq.flatMap(Triples.sentenceTriples)
      .map(t => T6(t.subj, t.pred, t.obj, t.repo, t.path, t.contentSha))
    val branches = branchTriples(annotated.toDF()).as[T6].collect().toSeq
    assert(multiset(kernel) == multiset(branches),
      s"kernel only ${(kernel diff branches).take(3)}, " +
        s"branches only ${(branches diff kernel).take(3)}")
    kernel
  }

  def annotatedFiles(files: Seq[SourceFile]): Dataset[Pipeline.AnnotatedSentence] =
    Pipeline.annotatedStage(spark, Pipeline.sentences(spark, files.toDS()))

  test("sentenceTriples == the Catalyst rule branches on a Synth corpus, " +
      "the demos and hostile content") {
    val synth = assertKernelMatches(Pipeline.annotatedStage(spark,
      Pipeline.sentences(spark, Synth.corpus(spark, 40L, 6))))
    val relations = graft.tag.Ontology.TempRelLabels.toSet
    assert(Set("hasType", "hasDuration", "speculated", "hasEntity")
      .subsetOf(synth.map(_.pred).toSet) && synth.exists(t => relations(t.pred)))
    assertKernelMatches(annotatedFiles(GoldenDemoSpec.texts.zipWithIndex
      .map { case (t, i) => SourceFile("demo", s"doc$i.md", "c0", "markdown", t) }))
    assertKernelMatches(annotatedFiles(AuditSpec.hostileFiles))
  }

  test("sentenceTriples == the Catalyst rule branches on crafted sentences") {
    def sent(i: Int, tokens: Seq[String], triggers: Seq[Trigger] = Nil,
        ner: Seq[NerSpan] = Nil, scope: Seq[Int] = Nil): Pipeline.AnnotatedSentence = {
      val key = Pipeline.sentKeyOf("r", "p.md", i, 0)
      val t = Pipeline.TaggedSentence("r", "p.md", s"sha$i", i, 0, key, tokens,
        ner, triggers, tokens.map(_ => 0),
        if (scope.isEmpty) tokens.map(_ => 0) else scope)
      val a = Pipeline.annotateSentence(t)
      Pipeline.AnnotatedSentence(t.repo, t.path, t.contentSha, t.lineNum,
        t.senNum, t.sentKey, t.tokens, t.ner, t.triggers, t.negationCue,
        t.negationScope, a.events, a.relations)
    }
    val cases = Seq(
      // typeless injected events at heads no trigger starts at, and a
      // temporal relation between them
      sent(1, Seq("He", "left", "before", "she", "said", "it")),
      // a trigger whose text has no duration class: a blank duration
      sent(2, Seq("They", "zorbled", "the", "town"),
        Seq(Trigger("Conflict:Attack", "zorbled", 1, 1))),
      // a trigger inside the negation scope
      sent(3, Seq("Troops", "did", "not", "attack", "the", "town"),
        Seq(Trigger("Conflict:Attack", "attack", 3, 3)),
        scope = Seq(0, 0, 0, 1, 1, 1)),
      // NER spans ending on the last token, one of them multi-token
      sent(4, Seq("Troops", "entered", "Persian", "Gulf"),
        ner = Seq(NerSpan(0, 0, "PER"), NerSpan(2, 3, "LOC"))),
      sent(5, Seq("Kabul"), ner = Seq(NerSpan(0, 0, "GPE"))),
      // an empty sentence
      sent(6, Nil))
    val preds = assertKernelMatches(cases.toDS()).map(_.pred).toSet
    assert(Set("hasType", "speculated", "hasEntity", "BEFORE").subsetOf(preds), preds)
    assert(cases(1).events.exists(_.duration.isEmpty) &&
      cases.flatMap(_.events).exists(_.eventType.isEmpty))
  }

  // ---- golden ingest ----

  /** Three records in the reference's golden `.pred.json` shape
    * (FIXTURES.md §2): a full event with a duration; a two-trigger event
    * with no duration and no speculation field; a speculated event whose
    * argument canonicalizes to the previous record's longer mention and
    * whose trigger links to it by sameAs. */
  val goldenRecords = """[
    {"tokens": ["Yesterday", "New", "York", "governor", "George", "Pataki",
                "toured", "five", "counties", "."],
     "events": [{"event_type": "Movement:Transport",
       "triggers": [{"event_type": "Movement:Transport", "text": "toured",
                     "start_token": 6, "end_token": 6}],
       "arguments": [
         {"role": "Artifact", "text": "George Pataki", "start_token": 4, "end_token": 5},
         {"role": "Destination", "text": "counties", "start_token": 8, "end_token": 8}],
       "duration": "days", "speculation": false}],
     "ner": [["1", "2", "GPE"], ["4", "5", "PER"]]},
    {"tokens": ["Police", "arrested", "and", "detained", "the", "suspect", "."],
     "events": [{"event_type": "Justice:Arrest-Jail",
       "triggers": [
         {"event_type": "Justice:Arrest-Jail", "text": "arrested", "start_token": 1, "end_token": 1},
         {"event_type": "Justice:Arrest-Jail", "text": "detained", "start_token": 3, "end_token": 3}],
       "arguments": [{"role": "Person", "text": "the suspect", "start_token": 4, "end_token": 5}]}],
     "ner": [["5", "5", "PER"]]},
    {"tokens": ["The", "suspect", "was", "arrested", "again", "."],
     "events": [{"event_type": "Justice:Arrest-Jail",
       "triggers": [{"event_type": "Justice:Arrest-Jail", "text": "arrested",
                     "start_token": 3, "end_token": 3}],
       "arguments": [{"role": "Person", "text": "suspect", "start_token": 1, "end_token": 1}],
       "speculation": true}],
     "ner": [["1", "1", "PER"]]}
  ]"""

  val goldenPath = "Mu_test_data/inline.pred.json"

  def goldenAnn(): DataFrame = {
    val f = tempDir("graft-golden").resolve("inline.pred.json")
    Files.writeString(f, goldenRecords)
    Sources.readAnnotationArray(spark, f.toString)
  }

  /** (triples, tagged sentences, flat event rows) of the ingest. */
  def ingest(ann: DataFrame): (Seq[T6], Seq[Pipeline.TaggedSentence],
      Seq[(String, String, String, String, Boolean)]) = {
    val a = Pipeline.fromAnnotations(spark, ann, "eventplus", goldenPath).toDF()
    val triples = Triples.materialize(spark, a, distinct = false).as[T6].collect().toSeq
    // the projections q41/q42 read
    val tagged = a.drop("events", "relations").as[Pipeline.TaggedSentence]
      .collect().toSeq
    val events = a.select(explode(col("events")).as("e")).select("e.*")
      .select("eventId", "eventType", "trigLemma", "duration", "speculation")
      .as[(String, String, String, String, Boolean)].collect().toSeq
    (triples, tagged, events)
  }

  test("golden ingest: inline .pred.json records give the pinned triples, " +
      "tagged sentences and event rows") {
    val ann = goldenAnn()
    val (triples, tagged, events) = ingest(ann)
    val tokens = ann.select(col("tokens")).as[Seq[String]].collect()
    val sha = tokens.map(t => Text.sha256(t.mkString(" ")))
    val key = (0 to 2).map(i => s"eventplus/$goldenPath#L0:S$i")
    val doc = s"eventplus/$goldenPath"
    val (e0, e1a, e1b, e2) = (s"${key(0)}:T6", s"${key(1)}:T1", s"${key(1)}:T3",
      s"${key(2)}:T3")
    def row(s: String, p: String, o: String, rec: Int) =
      T6(s, p, o, "eventplus", goldenPath, sha(rec))
    val expected = Seq(
      row(e0, "hasType", "Movement:Transport", 0),
      row(e0, "Artifact", "George Pataki", 0),
      row(e0, "Destination", "counties", 0),
      row(e0, "hasDuration", "days", 0),
      row(doc, "hasEntity", "GPE:New York", 0),
      row(doc, "hasEntity", "PER:George Pataki", 0),
      row(e1a, "hasType", "Justice:Arrest-Jail", 1),
      row(e1b, "hasType", "Justice:Arrest-Jail", 1),
      row(e1a, "Person", "the suspect", 1),
      row(e1b, "Person", "the suspect", 1),
      row(doc, "hasEntity", "PER:suspect", 1),
      row(e2, "hasType", "Justice:Arrest-Jail", 2),
      row(e2, "Person", "the suspect", 2),
      row(e2, "speculated", "true", 2),
      row(e2, "sameAs", e1a, 2),
      row(doc, "hasEntity", "PER:suspect", 2))
    def sorted(ts: Seq[T6]) = ts.sortBy(t => (t.subj, t.pred, t.obj, t.contentSha))
    assert(sorted(triples) == sorted(expected))
    assert(tagged.sortBy(_.senNum).map(t => (t.sentKey, t.contentSha, t.triggers,
      t.ner.map(n => (n.start, n.end, n.label)))) == Seq(
      (key(0), sha(0), Seq(Trigger("Movement:Transport", "toured", 6, 6)),
        Seq((1, 2, "GPE"), (4, 5, "PER"))),
      (key(1), sha(1), Seq(Trigger("Justice:Arrest-Jail", "arrested", 1, 1),
        Trigger("Justice:Arrest-Jail", "detained", 3, 3)), Seq((5, 5, "PER"))),
      (key(2), sha(2), Seq(Trigger("Justice:Arrest-Jail", "arrested", 3, 3)),
        Seq((1, 1, "PER")))))
    assert(events.sortBy(_._1) == Seq(
      (e0, "Movement:Transport", graft.tag.Ontology.lemmaOf("toured"), "days", false),
      (e1a, "Justice:Arrest-Jail", graft.tag.Ontology.lemmaOf("arrested"), "", false),
      (e1b, "Justice:Arrest-Jail", graft.tag.Ontology.lemmaOf("detained"), "", false),
      (e2, "Justice:Arrest-Jail", graft.tag.Ontology.lemmaOf("arrested"), "", true)
    ).sortBy(_._1))
  }

  // ---- the committed triples write ----

  /** The `events` leaves a scan reads, as dotted paths. */
  def eventLeaves(schema: StructType): Set[String] = {
    def leaves(t: DataType, prefix: String): Set[String] = t match {
      case s: StructType =>
        s.fields.toSet.flatMap((f: org.apache.spark.sql.types.StructField) =>
          leaves(f.dataType, prefix + f.name + "."))
      case ArrayType(e, _) => leaves(e, prefix)
      case _ => Set(prefix.stripSuffix("."))
    }
    schema.find(_.name == "events").map(f => leaves(f.dataType, "")).getOrElse(Set.empty)
  }

  test("the triples write scans whole sentences once, and only the events " +
      "fields the argument and sameAs rules read") {
    val plans = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val root = tempDir("graft-plan").toString
    spark.listenerManager.register(listener)
    val write = try {
      Pipeline.runCheckpointed(spark, Synth.corpus(spark, 40L, 8), root, "synth:40:8")
      Iterator.continually(Option(plans.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("no triples write within 60 s")))
        .find(_.logical match {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName == "triples"
          case _ => false
        }).get
    } finally spark.listenerManager.unregister(listener)
    val scans = (new AdaptiveSparkPlanHelper {}).collectWithSubqueries(write.executedPlan) {
      case s: FileSourceScanExec => s.requiredSchema
    }
    val (whole, pruned) = scans.partition(_.fieldNames.contains("tokens"))
    assert(whole.size == 1, scans.map(_.simpleString).mkString("\n"))
    assert(pruned.map(eventLeaves).toSet == Set(
      // `args` is read whole: Spark's column API cannot select one field of
      // an array nested in an array
      Set("eventId", "args.role", "args.text", "args.start", "args.end"),
      Set("eventId", "trigLemma", "eventType")),
      scans.map(_.simpleString).mkString("\n"))
  }
}
