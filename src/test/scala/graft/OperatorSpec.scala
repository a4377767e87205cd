package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.link.Canonicalize
import graft.model.{SourceFile, Trigger}

/** Operator-level specs on crafted inputs, mirroring the cited reference
  * semantics (SURVEY.md §5 "unit per operator"). */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- J1 alignment (main.py:117-144) ----

  def align(heads: Seq[(String, Int, String)], toks: Seq[(String, Seq[String])]) = {
    val h = heads.toDF("sentKey", "tokIdx", "tok")
    val t = toks.toDF("sentKey", "tokens")
    Pipeline.alignHeads(h, t).as[(String, Int, Int, String)].collect().toSet
  }

  test("J1: exact index match wins") {
    assert(align(Seq(("s1", 2, "ran")), Seq(("s1", Seq("the", "dog", "ran", "ran")))) ==
      Set(("s1", 2, 2, "ran")))
  }

  test("J1: nearest candidate within ±2; beyond cutoff drops") {
    // candidate at distance 1 and 2 -> picks 1
    assert(align(Seq(("s1", 1, "ran")), Seq(("s1", Seq("x", "y", "ran", "z", "ran")))) ==
      Set(("s1", 1, 2, "ran")))
    // only candidate at distance 3 -> dropped (closest cutoff main.py:131)
    assert(align(Seq(("s1", 0, "ran")), Seq(("s1", Seq("x", "y", "z", "ran")))) ==
      Set.empty[(String, Int, Int, String)])
  }

  test("J1: '.'-strip on the BETTER side (main.py:126)") {
    assert(align(Seq(("s1", 1, "US")), Seq(("s1", Seq("the", "U.S.", "army")))) ==
      Set(("s1", 1, 1, "U.S.")))
  }

  test("J1: tie at equal distance resolves to lower index (deterministic)") {
    assert(align(Seq(("s1", 2, "ran")), Seq(("s1", Seq("x", "ran", "y", "ran")))) ==
      Set(("s1", 2, 1, "ran")))
  }

  // ---- A1 mean-threshold aggregation (joint_model.py:342-369) ----

  test("A1: duplicate keys straddling 0.5 aggregate by mean") {
    val ev = Seq(
      ("s1", 0, "tok", 0.9), ("s1", 0, "tok", 0.3), // mean 0.6 -> head
      ("s1", 1, "tok2", 0.4), ("s1", 1, "tok2", 0.55) // mean 0.475 -> not
    ).toDF("sentKey", "tokIdx", "tok", "prob")
    val heads = Pipeline.eventHeads(ev).as[(String, Int, String)].collect().toSet
    assert(heads == Set(("s1", 0, "tok")))
  }

  test("A1 fused path == relational path on a real corpus slice") {
    // headsNarrow (the pipeline's shuffle-free A1) must emit exactly the
    // rows of eventHeads(headEvidence(...)) — same mean arithmetic, same
    // threshold — on real synthetic sentences
    val sents = Pipeline.sentences(spark,
      graft.corpus.Synth.corpus(spark, 30L, 6))
    val fused = Pipeline.headsNarrow(spark, Pipeline.tagStage(spark, sents))
      .as[(String, Int, String)].collect().toSet
    val relational = Pipeline.eventHeads(Pipeline.headEvidence(spark, sents))
      .as[(String, Int, String)].collect().toSet
    assert(fused == relational && fused.nonEmpty)
  }

  // ---- J4 pair generation (joint_model.py:403-437) ----

  test("J4: C(n,2) ordered pairs with distance feature, sentence-bounded") {
    val heads = Seq(("s1", 1, "a"), ("s1", 4, "b"), ("s1", 7, "c"), ("s2", 0, "d"))
      .toDF("sentKey", "tokIdx", "tok")
    val pairs = Pipeline.relationCandidates(heads)
      .select("sentKey", "l", "r", "dist").as[(String, Int, Int, Int)]
      .collect().toSet
    assert(pairs == Set(("s1", 1, 4, 3), ("s1", 1, 7, 6), ("s1", 4, 7, 3)))
  }

  // ---- relation scoring + P6 filter ----

  test("relation scorer: first connective between; P6 drops VAGUE/NONE") {
    val heads = Seq(("s1", 2, "left"), ("s1", 6, "resigned"),
      ("s2", 1, "met"), ("s2", 5, "said")).toDF("sentKey", "tokIdx", "tok")
    val toks = Seq(
      ("s1", Seq("The", "convoy", "left", "before", "Mary", "Jones", "resigned", ".")),
      ("s2", Seq("They", "met", "and", "then", "he", "said", "so", "."))
    ).toDF("sentKey", "tokens")
    val scored = Pipeline.scoreRelations(Pipeline.relationCandidates(heads), toks)
    val all = scored.as[(String, Int, Int, String)].collect().toSet
    assert(all == Set(("s1", 2, 6, "BEFORE"), ("s2", 1, 5, "NONE")))
    val kept = Pipeline.filterRelations(scored).as[(String, Int, Int, String)].collect().toSet
    assert(kept == Set(("s1", 2, 6, "BEFORE")))
  }

  // ---- the per-sentence annotate kernel vs the relational operators ----

  /** The annotate layer composed from the relational operators — the
    * reference the kernel is checked against: (enriched events,
    * relations). */
  def relationalAnnotate(tagged: Dataset[Pipeline.TaggedSentence]): (DataFrame, DataFrame) = {
    val sentToks = tagged.select(col("sentKey"), col("tokens"))
    val heads = Pipeline.headsNarrow(spark, tagged)
    val aligned = Pipeline.alignHeads(heads, sentToks)
    val rels = Pipeline.mapRelationEndpoints(Pipeline.filterRelations(
      Pipeline.scoreRelations(Pipeline.relationCandidates(heads), sentToks)), aligned)
    val all = Pipeline.injectTempRelOnlyEvents(spark, aligned,
      Pipeline.eventRows(spark, tagged), tagged)
    (Pipeline.enrich(spark, all, Pipeline.durations(spark, all), tagged), rels)
  }

  def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** The kernel (`annotateSentence` per sentence) equals the relational
    * composition: same columns in the same order, and equal multisets of
    * event and relation rows. Returns the kernel row counts. */
  def assertKernelMatches(tagged: Dataset[Pipeline.TaggedSentence]): (Int, Int) = {
    val (relEvents, relRels) = relationalAnnotate(tagged)
    val kernelEvents = tagged.flatMap(Pipeline.annotateSentence(_).events)
    val kernelRels = tagged.flatMap(Pipeline.annotateSentence(_).relations)
    assert(kernelEvents.schema.map(f => (f.name, f.dataType)) ==
      relEvents.schema.map(f => (f.name, f.dataType)))
    assert(kernelRels.schema.map(f => (f.name, f.dataType)) ==
      relRels.schema.map(f => (f.name, f.dataType)))
    val events = kernelEvents.collect().toSeq
    val rels = kernelRels.collect().toSeq
    assert(multiset(events) == multiset(relEvents.as[Pipeline.EnrichedEvent].collect().toSeq))
    assert(multiset(rels) == multiset(relRels.as[Pipeline.RelationRow].collect().toSeq))
    (events.size, rels.size)
  }

  test("annotate kernel == relational composition on a Synth corpus and the demos") {
    val synth = Pipeline.tagStage(spark, Pipeline.sentences(spark,
      graft.corpus.Synth.corpus(spark, 40L, 6)))
    val (ev, rel) = assertKernelMatches(synth)
    assert(ev > 0 && rel > 0)
    val demos = GoldenDemoSpec.texts.zipWithIndex
      .map { case (t, i) => SourceFile("demo", s"doc$i.md", "c0", "markdown", t) }
    assertKernelMatches(Pipeline.tagStage(spark,
      Pipeline.sentences(spark, demos.toDS())))
  }

  test("annotate kernel == relational composition on crafted edge cases") {
    def sent(i: Int, tokens: Seq[String], triggers: Seq[Trigger] = Nil,
        scope: Seq[Int] = Nil): Pipeline.TaggedSentence = {
      val key = Pipeline.sentKeyOf("r", "p.md", i, 0)
      Pipeline.TaggedSentence("r", "p.md", "sha", i, 0, key, tokens, Nil,
        triggers, tokens.map(_ => 0), if (scope.isEmpty) tokens.map(_ => 0) else scope)
    }
    val cases = Seq(
      // two triggers sharing a start token, with different durations (J2
      // pairs each with both)
      sent(1, Seq("They", "attacked", "the", "town", "before", "leaving"),
        Seq(Trigger("Conflict:Attack", "attacked", 1, 1),
          Trigger("Movement:Transport", "toured", 1, 3))),
      // two equal heads next to each other, and '.'-bearing tokens
      sent(2, Seq("U.S.", "troops", "left", "left.", "after", "U.S", "said", ".")),
      // 0- and 1-token sentences
      sent(3, Nil),
      sent(4, Seq("attacked"), Seq(Trigger("Conflict:Attack", "attacked", 0, 0))),
      sent(5, Seq("said")),
      // a VAGUE `when` before a real connective decides the pair (dropped)
      sent(6, Seq("He", "left", "when", "before", "she", "attacked")),
      // "and" (NONE) before a real connective, and a pair it does not sit in
      sent(7, Seq("He", "met", "and", "before", "that", "said", "after", "it",
        "ended")),
      // a head on the last token, in the negation scope
      sent(8, Seq("Troops", "did", "not", "leave"), scope = Seq(0, 0, 0, 1)),
      // a trigger at a head position is not injected again
      sent(9, Seq("Police", "arrested", "him", "before", "he", "resigned"),
        Seq(Trigger("Justice:Arrest-Jail", "arrested", 1, 1)), Seq(0, 1, 0, 0, 0, 1)))
    val (ev, rel) = assertKernelMatches(cases.toDS())
    assert(ev > cases.size && rel > 0)
  }

  test("annotate kernel == relational composition on the reference golden corpora") {
    val dir = new GoldenAceSpec().dataDir // the corpora GoldenAceSpec reads
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
      s"reference golden corpora not present at $dir")
    import graft.tag.Taggers
    for (f <- Seq("test_ace", "test_tbd", "dev_ace", "dev_tbd", "train_tbd")) {
      val ann = Pipeline.fromAnnotations(spark, graft.sources.Sources
        .readAnnotationArray(spark, s"$dir/$f.pred.json"), "eventplus", f)
      // the golden records carry no negation; tag it as the pipeline does
      val tagged = ann.drop("events", "relations").as[Pipeline.TaggedSentence].map { t =>
        val cues = Taggers.negationCues(t.tokens)
        t.copy(negationCue = cues, negationScope = Taggers.negationScope(t.tokens, cues))
      }
      assertKernelMatches(tagged)
    }
  }

  test("annotate: one file under two commits is annotated per copy, " +
      "never cross-multiplied") {
    // the same (repo, path) twice gives two sentences per sentKey; each
    // copy must annotate exactly as it does alone
    val files = graft.corpus.Synth.corpus(spark, 6L, 4)
    def counts(fs: Dataset[SourceFile]): (Long, Long) = {
      val n = Pipeline.annotatedStage(spark, Pipeline.sentences(spark, fs))
        .agg(sum(size(col("events"))), sum(size(col("relations")))).first()
      (n.getLong(0), n.getLong(1))
    }
    val (ev1, rel1) = counts(files)
    assert(ev1 > 0 && rel1 > 0)
    val twice = files.unionByName(files.map(_.copy(commit = "other-commit")))
    assert(counts(twice) == ((2 * ev1, 2 * rel1)))
  }

  test("annotate: annotatedStage plans no Exchange and no Join") {
    val plan = Pipeline.annotatedStage(spark, Pipeline.sentences(spark,
      graft.corpus.Synth.corpus(spark, 8L, 4))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"annotate must be narrow; plan:\n${plan.take(1500)}")
  }

  // ---- canonicalization (link stage) ----

  /** The canonical-form map of `mentions`, as (repo, text) -> canonical. */
  def canonicalMap(mentions: DataFrame): Map[(String, String), String] = {
    val (map, _) = Canonicalize.canonicalFormsCounted(spark, mentions)
    try map.as[(String, String, String)].collect()
      .map { case (repo, text, canon) => (repo, text) -> canon }.toMap
    finally map.unpersist()
  }

  /** [[canonicalMap]] with `spark.graft.maxBroadcastRows` set to `rows`. */
  def canonicalMapUnder(rows: Long, mentions: DataFrame)
      : Map[(String, String), String] = {
    spark.conf.set("spark.graft.maxBroadcastRows", rows.toString)
    try canonicalMap(mentions)
    finally spark.conf.unset("spark.graft.maxBroadcastRows")
  }

  def isLocalRelation(df: DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("canonicalFormsCounted: local relation within maxBroadcastRows, persisted above") {
    val mentions = Seq(("r1", "George Pataki"), ("r1", "Pataki"),
      ("r2", "the convoy")).toDF("repo", "text")
    val (local, n) = Canonicalize.canonicalFormsCounted(spark, mentions)
    assert(n == 3 && isLocalRelation(local), local.queryExecution.logical.toString)
    spark.conf.set("spark.graft.maxBroadcastRows", "2")
    val (cached, n2) =
      try Canonicalize.canonicalFormsCounted(spark, mentions)
      finally spark.conf.unset("spark.graft.maxBroadcastRows")
    try {
      assert(n2 == 3 && !isLocalRelation(cached))
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a map over maxBroadcastRows comes back persisted")
    } finally cached.unpersist()
  }

  test("CC: chain, star, and disjoint clusters converge to min label") {
    // the union-find of the per-block solve, labelled by component minimum
    val vids = (1 to 10).map(i => s"v$i").toArray
    val edges = Seq(
      ("v1", "v2"), ("v2", "v3"), ("v3", "v4"), // chain -> v1
      ("v5", "v6"), ("v5", "v7"), ("v5", "v8") // star -> v5
      // v9, v10 isolated
    )
    val uf = new Canonicalize.UnionFind(vids.length)
    for ((s, d) <- edges) uf.union(vids.indexOf(s), vids.indexOf(d))
    val minOfRoot = vids.indices.groupBy(uf.find)
      .map { case (r, ms) => r -> ms.map(vids).min }
    val comps = vids.indices.map(i => vids(i) -> minOfRoot(uf.find(i))).toMap
    assert(Seq("v1", "v2", "v3", "v4").map(comps) == Seq.fill(4)("v1"))
    assert(Seq("v5", "v6", "v7", "v8").map(comps) == Seq.fill(4)("v5"))
    assert(comps("v9") == "v9" && comps("v10") == "v10")
  }

  test("local union-find CC == distributed label propagation") {
    // the per-block solve's union-find, labelled by component minimum,
    // against min-label propagation over Spark frames run to its fixpoint,
    // on a seeded random graph with long paths, cycles and isolated vertices
    val rnd = new scala.util.Random(7)
    val vids = (1 to 60).map(i => f"v$i%02d").toArray
    val edgePairs = Seq.fill(45)((vids(rnd.nextInt(vids.length)),
      vids(rnd.nextInt(vids.length)))) ++ (40 until 59).map(i => (vids(i), vids(i + 1)))
    val uf = new Canonicalize.UnionFind(vids.length)
    for ((s, d) <- edgePairs) uf.union(vids.indexOf(s), vids.indexOf(d))
    val minOfRoot = vids.indices.groupBy(uf.find)
      .map { case (r, ms) => r -> ms.map(vids).min }
    val local = vids.indices.map(i => vids(i) -> minOfRoot(uf.find(i))).toMap

    val pairs = edgePairs.toDF("src", "dst")
    val undirected = pairs.union(pairs.select($"dst", $"src"))
    var labels = vids.toSeq.toDF("vid").select($"vid", $"vid".as("component"))
    var dist = Map.empty[String, String]
    var rounds = 0
    while ({
      val next = labels.union(undirected.join(labels, $"src" === $"vid")
          .select($"dst".as("vid"), $"component"))
        .groupBy("vid").agg(min("component").as("component"))
      val collected = next.as[(String, String)].collect().toMap
      labels = collected.toSeq.toDF("vid", "component")
      val changed = collected != dist
      dist = collected
      rounds += 1
      changed
    }) assert(rounds <= vids.length, "label propagation did not reach a fixpoint")
    assert(local == dist)
    assert(local.values.toSet.size < vids.length - 10, "graph too sparse to test merging")
  }

  test("canonicalForms: short forms map to longest form in block") {
    val mentions = Seq(
      ("r1", "George Pataki"), ("r1", "Pataki"), ("r1", "the convoy"),
      ("r2", "Pataki") // different repo -> separate block
    ).toDF("repo", "text")
    val m = canonicalMap(mentions)
    assert(m(("r1", "Pataki")) == "George Pataki")
    assert(m(("r1", "George Pataki")) == "George Pataki")
    assert(m(("r1", "the convoy")) == "the convoy")
    assert(m(("r2", "Pataki")) == "Pataki")
  }

  test("canonicalFormsCounted: the local and the persisted map agree on edge-case inputs") {
    val mentions = (Seq(
      ("r1", "George Pataki"), ("r1", "Pataki"), ("r1", "the convoy"),
      ("r1", "a convoy"), ("r2", "Pataki"), ("r1", "Governor George Pataki"),
      // accented text: one block, the longer form wins
      ("r1", "José Pérez"), ("r1", "Pérez"),
      // length is in code points, not UTF-16 units: the 9-point form wins
      // over the 6-point form of 10 UTF-16 units, both linked through "x"
      ("r1", "x"), ("r1", "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00 x"),
      ("r1", "abcdefg x"),
      // an equal-length tie goes to the smaller UTF-8 string: U+FF5E
      // sorts before U+1F600 in UTF-8, after it in UTF-16
      ("r3", "\uFF5E \uD83D\uDE00 y"), ("r3", "\uD83D\uDE00 \uFF5E y"),
      // trailing spaces split into an empty last token (split limit -1)
      ("r1", "Pataki "), ("r1", "George Pataki ")
    ) ++ // a hot block over the cap below: identity-canonical
      (1 to 6).map(i => ("r1", s"spokesman number$i said")) ++
      Seq(("r1", "spokesman said"))
    ).toDF("repo", "text")
    spark.conf.set("spark.graft.maxBlockForms", "5")
    try {
      val m = canonicalMap(mentions)
      assert(canonicalMapUnder(1, mentions) == m)
      assert(m(("r1", "x")) == "abcdefg x")
      assert(m(("r3", "\uD83D\uDE00 \uFF5E y")) == "\uFF5E \uD83D\uDE00 y")
      assert(m(("r1", "Pérez")) == "José Pérez")
      assert(m(("r1", "Pataki ")) == "George Pataki ")
      assert(m(("r1", "spokesman said")) == "spokesman said")
    } finally spark.conf.unset("spark.graft.maxBlockForms")

    // 12 nested forms of one block: 66 containment edges, one component
    val nested = (0 until 12).map(k => ("r1", ((1 to k).map(i => s"a$i") :+ "x")
      .mkString(" "))).toDF("repo", "text")
    val m = canonicalMap(nested)
    assert(canonicalMapUnder(1, nested) == m)
    assert(m.values.toSet == Set((1 to 11).map(i => s"a$i").mkString(" ") + " x"))
  }

  test("persisted canonical map: reading it does not re-run the form pipeline") {
    // every evaluation of a mention row ticks the accumulator: once the
    // map is returned, reading it must not evaluate the mentions again
    val evals = spark.sparkContext.longAccumulator("mention-evals")
    val tick = udf { (t: String) => evals.add(1); t }.asNondeterministic()
    val mentions = Seq(("r1", "George Pataki"), ("r1", "Pataki"),
      ("r1", "the convoy"), ("r1", "a convoy"), ("r2", "Pataki"))
      .toDF("repo", "text").select(col("repo"), tick(col("text")).as("text"))
    spark.conf.set("spark.graft.maxBroadcastRows", "1")
    val (map, nForms) =
      try Canonicalize.canonicalFormsCounted(spark, mentions)
      finally spark.conf.unset("spark.graft.maxBroadcastRows")
    val built = evals.value
    val rows = map.as[(String, String, String)].collect()
    assert(!isLocalRelation(map))
    assert(evals.value == built, s"${evals.value - built} mention rows re-evaluated")
    assert(rows.length == nForms && nForms == 5)
    assert(rows.toSet(("r1", "Pataki", "George Pataki")))
    map.unpersist()
  }

  test("canonicalFormsCounted: as many jobs for 120k distinct forms as for 1k") {
    // the build plus one read of the map
    // 10 forms per block; every fifth block holds a bare "xN" that links
    // its block's forms into one component, 9 of them rewritten
    def jobs(n: Long): Int = TestSpark.jobsOf {
      val block = concat(lit("x"), (col("id") / 10).cast("long"))
      val mentions = spark.range(n).select(lit("r1").as("repo"),
        when(col("id") % 50 === 0, block)
          .otherwise(concat(lit("w"), col("id"), lit(" "), block)).as("text"))
      val (map, nForms) = Canonicalize.canonicalFormsCounted(spark, mentions)
      try {
        assert(nForms == n)
        val merged = map.filter(col("text") =!= col("canonical")).count()
        assert(merged == 9 * n / 50, s"$merged forms merged")
      } finally map.unpersist()
    }
    val small = jobs(1000)
    val large = jobs(120000)
    assert(small == large, s"$small jobs for 1k forms, $large for 120k")
  }

  test("canonicalForms: hot-lemma block is capped, audited, and " +
      "identity-canonical; normal blocks unchanged") {
    // adversarial block: 50 distinct multi-token forms all ending in the
    // same lemma ("said") AND sharing the first token, so the secondary
    // sub-block split cannot rescue it — with cap 10 the whole sub-block
    // must drop to identity canonical. A normal block rides along.
    val hot = (1 to 50).map(i => ("r1", s"spokesman number$i said"))
    val normal = Seq(("r1", "George Pataki"), ("r1", "Pataki"))
    val mentions = (hot ++ normal).toDF("repo", "text")
    spark.conf.set("spark.graft.maxBlockForms", "10")
    try {
      val m = canonicalMap(mentions)
      assert(m.size == 52)
      // dropped block: every hot form is its own canonical (under-merge,
      // never mis-merge)
      for ((r, t) <- hot) assert(m((r, t)) == t, s"identity for $t")
      // the normal block still merges as before
      assert(m(("r1", "Pataki")) == "George Pataki")
      // audit view surfaces exactly the dropped sub-block with its size
      val audit = Canonicalize.droppedBlocks(spark, mentions, 10)
        .as[(String, String, Long)].collect()
      assert(audit.length == 1 && audit.head._3 == 50)
      // bounded pair count: the kept universe generates at most cap² pairs
      val pairs = Canonicalize.refineBlocks(mentions, 10)
        .filter(col("kept"))
        .groupBy("repo", "block").count()
        .agg(sum(col("count") * col("count"))).as[Long].head()
      assert(pairs <= 10L * 10 * 2, s"pair bound violated: $pairs")
    } finally spark.conf.unset("spark.graft.maxBlockForms")
  }

  test("canonicalForms: oversized block rescued by first-token sub-split") {
    // 30 forms ending in "said", but 15 distinct first tokens -> sub-blocks
    // of 2 are all within cap 10, so merging still happens within sub-block
    val forms = (1 to 15).flatMap(i =>
      Seq(("r1", s"prefix$i spokesman said"), ("r1", s"prefix$i said")))
    spark.conf.set("spark.graft.maxBlockForms", "10")
    try {
      val m = canonicalMap(forms.toDF("repo", "text"))
      for (i <- 1 to 15) {
        assert(m(("r1", s"prefix$i said")) == s"prefix$i spokesman said")
        assert(m(("r1", s"prefix$i spokesman said")) == s"prefix$i spokesman said")
      }
      assert(Canonicalize.droppedBlocks(spark, forms.toDF("repo", "text"), 10)
        .count() == 0)
    } finally spark.conf.unset("spark.graft.maxBlockForms")
  }

  test("canonicalForms blocking key mirrors Text.normLemma") {
    val texts = Seq("Jones", "jones", "armies", "running", "walked", "classes", "dogs", "pass")
    val df = texts.map(t => ("r", t)).toDF("repo", "text")
      .select(col("text"), Canonicalize.blockKey(col("text")).as("block"))
    val got = df.as[(String, String)].collect().toMap
    for (t <- texts)
      assert(got(t) == graft.text.Text.normLemma(t.toLowerCase.split(" ").last),
        s"blockKey($t)")
  }

  test("K3: tagging's length sort is WITHIN partitions — a local Sort, no added Exchange") {
    // the batching projection (joint_model.py:62 pad_collate analog) must
    // group similar-length sentences without a shuffle: the executed plan
    // carries a non-global Sort and exactly the exchanges of its INPUT
    // (none for a narrow synth scan) — a global orderBy here would add a
    // rangepartitioning Exchange and turn a narrow stage into a shuffle
    val sents = graft.kg.Pipeline.sentences(
      spark, graft.corpus.Synth.corpus(spark, 8L, 4))
    val plan = graft.kg.Pipeline.tagStage(spark, sents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Sort"), "length sort missing from plan")
    assert(!plan.contains("Exchange"),
      s"K3 sort must not shuffle; plan:\n${plan.take(800)}")
  }

  test("driver contract: every oracle key has a query; surface counts pinned") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    // every query has an oracle and every oracle a query
    assert(qs == os, s"queries without oracles: ${qs.diff(os)}; " +
      s"oracles without queries: ${os.diff(qs)}")
    // pinned so a future edit that drops a query fails loudly
    // (update the number AND the README/SURVEY counts when adding)
    assert(qs.size == 41, s"queries: ${qs.size}")
  }

  test("each sf fixture's lineitem row count picks the gold corpus its name synthesizes") {
    // the synthetic-corpus oracles choose their gold corpus by lineitem's
    // row count (WHEN <rows> THEN '<nFiles>_s<spf>'); the queries size
    // the corpus from the dir name (Synth.sizeForSfDir), so a fixture
    // whose row count maps elsewhere would check against the wrong gold
    val pick = raw"WHEN (\d+) THEN '([^']+)'".r
      .findAllMatchIn(SparkEntry.oracleSql("kg_triples_by_pred"))
      .map(m => m.group(1).toLong -> m.group(2)).toMap
    assert(pick.size == 3, s"WHEN pairs: $pick")
    // the fixture root SparkEntry.entry reads its sf0.001 dir from
    val fixtures = Option(new java.io.File("/root/testdata").listFiles).toSeq
      .flatten.filter(_.getName.startsWith("sf")).sortBy(_.getName)
    assume(fixtures.nonEmpty, "no sf fixtures present")
    for (dir <- fixtures) {
      val rows = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val (nFiles, spf) = graft.corpus.Synth.sizeForSfDir(dir.getPath)
      assert(pick.get(rows).contains(s"${nFiles}_s$spf"),
        s"$dir: lineitem has $rows rows, which picks ${pick.get(rows)}")
    }
  }
}
