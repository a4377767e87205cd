package graft
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.corpus.Synth
import graft.kg.{Pipeline, Triples}

/** Driver contract (SURVEY.md §7): every named query, and the DuckDB
  * oracle that checks it.
  *
  * Queries fall in two families:
  *   - `kg_*`: the KG-construction pipeline over the deterministic
  *     synthetic source-file corpus (or the golden annotation corpora),
  *     value-checked against SQL over the independently derived gold
  *     triple set;
  *   - `q*`: the pipeline's stages, replayed over the golden corpora,
  *     the synthetic corpus or the driver's `documents` table.
  *
  * Every query has an oracle in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full KG pipeline over the synthetic corpus, triples by predicate. */
  def entry(spark: SparkSession): DataFrame =
    triplesFor(spark, "/root/testdata/sf0.001")
      .groupBy(col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("pred"))

  /** The KG pipeline is shared by several queries — run it once per scale
    * directory and persist. */
  private val tripleCache = TrieMap.empty[String, DataFrame]
  private def triplesFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(dir, {
      val (nFiles, spf) = Synth.sizeForSfDir(dir)
      // set-semantics committed emit (what the composed-pipeline oracles
      // value-check — the gold export is a set by construction): one
      // pass, dedup on all six columns, EAGER localCheckpoint. The
      // checkpoint truncates lineage so follow-up kg_* aggregates plan
      // against a flat LogicalRDD in milliseconds — with a persisted
      // frame each query re-canonicalized the whole pipeline DAG during
      // cache lookup, ~9 s of pure DRIVER time per query (this, not GC,
      // was the round-3 kg_entities_top bench residual). The
      // cluster-scale analog of this snapshot is the Store stage commit
      // in Pipeline.runCheckpointed.
      Triples.fromFiles(spark, Synth.corpus(spark, nFiles, spf))
    })

  /** The PRIOR corpus snapshot for kg_snapshot_delta: the first half of
    * the corpus (prefix-deterministic — Synth.corpus(n) is file-indexed,
    * so corpus(n/2) is literally the first n/2 files of corpus(n)).
    * Cached like [[triplesFor]] so Bench/Verify pay its pipeline once. */
  private def priorTriplesFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(s"$dir#prior", {
      val (nFiles, spf) = Synth.sizeForSfDir(dir)
      Triples.fromFiles(spark,
        Synth.corpus(spark, math.max(1L, nFiles / 2), spf))
    })

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The two lifted edge frames, memoized per scale directory with an
    * eager localCheckpoint (the [[triplesFor]] pattern — the KG query
    * family shares one pipeline run AND its derived graphs): the temporal
    * lift feeds kg_temporal_closure / kg_pagerank / kg_labelprop and the
    * co-occurrence lift feeds kg_triangles / kg_kcore / kg_edge_jaccard /
    * kg_truss, so without the snapshot each of those seven queries
    * re-ran the same joins + distincts and re-planned the lift DAG. The
    * frames are graph-sized (nodes/edges, not corpus-sized), so the
    * retained snapshot is bounded. */
  private def temporalEdgesFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(s"$dir#temporal_edges",
      liftedTemporalEdges(triplesFor(spark, dir)).localCheckpoint())

  private def cooccurrenceEdgesFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(s"$dir#cooccurrence_edges",
      liftedCooccurrenceEdges(triplesFor(spark, dir)).localCheckpoint())

  /** Symmetrized co-occurrence graph and its full-graph edge support,
    * memoized per scale dir: kg_triangles / kg_kcore / kg_edge_jaccard /
    * kg_truss all start from the identical symmetrization, and
    * kg_edge_jaccard's support frame IS kg_truss's first-round support
    * (same degree-oriented triangle enumeration) — computed once per
    * session instead of once per query. */
  private def coocSymFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(s"$dir#cooc_sym",
      Triples.symmetrize(cooccurrenceEdgesFor(spark, dir)))

  private def coocSupportFor(spark: SparkSession, dir: String): DataFrame =
    tripleCache.getOrElseUpdate(s"$dir#cooc_support",
      Triples.edgeSupport(coocSymFor(spark, dir)).localCheckpoint())

  /** Canonical-lifted temporal edge set over the committed triples —
    * BEFORE plus reversed AFTER, endpoints mapped through sameAs so
    * chains cross sentences via shared canonical events. Shared by
    * kg_temporal_closure (reachability) and kg_pagerank (centrality);
    * both oracles re-derive the identical lift in SQL over the gold set. */
  private def liftedTemporalEdges(tri: DataFrame): DataFrame = {
    val canon = tri.filter(col("pred") === "sameAs")
      .select(col("subj").as("ev"), col("obj").as("canon"))
    val raw = tri.filter(col("pred") === "BEFORE")
      .select(col("subj").as("s0"), col("obj").as("o0"))
      .unionByName(tri.filter(col("pred") === "AFTER")
        .select(col("obj").as("s0"), col("subj").as("o0")))
    raw
      .join(canon.select(col("ev").as("s0"), col("canon").as("cs")),
        Seq("s0"), "left")
      .join(canon.select(col("ev").as("o0"), col("canon").as("co")),
        Seq("o0"), "left")
      .select(coalesce(col("cs"), col("s0")).as("s"),
        coalesce(col("co"), col("o0")).as("o"))
  }

  /** Canonical-lifted event co-occurrence edges — one undirected edge
    * (s < o) per pair of canonical events attested in the same document.
    * Events map through sameAs first, so coreferent mentions in many
    * documents collapse to ONE node whose degree grows with its
    * cross-document support — the hub structure kg_triangles'
    * degree-oriented enumeration and kg_kcore's peel are built for
    * (the temporal BEFORE graph is near-chain — max degree 2 at
    * sf0.001 — and carries no triangles at all). The per-doc self-join
    * is document-bounded (events per doc ≤ sentences × per-sentence
    * events), so the pair fan-out is a constant factor of the corpus,
    * never quadratic in it. */
  private def liftedCooccurrenceEdges(tri: DataFrame): DataFrame = {
    val canon = tri.filter(col("pred") === "sameAs")
      .select(col("subj").as("e"), col("obj").as("canon"))
    // eager snapshot: dv feeds BOTH sides of the per-doc self-join below —
    // without it the filter + distinct + canon join evaluates once per
    // side (the recompute-hygiene class; the frame is (doc, canonical
    // event) pairs, graph-sized)
    val dv = tri.filter(col("pred") === "hasType")
      .select(col("subj").as("e")).distinct()
      .join(canon, Seq("e"), "left")
      .select(substring_index(col("e"), "#L", 1).as("doc"),
        coalesce(col("canon"), col("e")).as("v"))
      .distinct()
      .localCheckpoint(true)
    dv.as("a").join(dv.as("b"),
        col("a.doc") === col("b.doc") && col("a.v") < col("b.v"))
      .select(col("a.v").as("s"), col("b.v").as("o")).distinct()
  }

  private val GoldenCorpora =
    Seq("test_ace", "test_tbd", "dev_ace", "dev_tbd", "train_tbd")

  /** All five reference golden corpora as one annotation frame with a
    * `src` column — shared by every golden-data query
    * (q30/q33/q34/q35/q38/q39/q40/q43 and, through [[goldenStages]],
    * q41/q42/kg_from_annotations). Memoized per JVM with an eager
    * localCheckpoint (the triplesFor TrieMap pattern): the five wholetext
    * JSON scans + from_json parses run ONCE per Bench/Verify session
    * instead of once per query, and the flat LogicalRDD snapshot avoids
    * the per-query plan re-canonicalization cost of a persisted lineage.
    * Golden data is fixed-size (7,843 sentences), so the retained
    * snapshot is bounded for the session's lifetime. */
  private val goldenAnnCache = TrieMap.empty[String, DataFrame]
  private def goldenAnn(s: SparkSession): DataFrame =
    goldenAnnCache.getOrElseUpdate("all", {
      GoldenCorpora
        .map { f =>
          graft.sources.Sources.readAnnotationArray(s,
            s"/root/reference/component/Duration/Mu_test_data/$f.pred.json")
            .withColumn("src", lit(f))
        }.reduce(_ unionByName _)
        .localCheckpoint()
    })

  /** Per-corpus Pipeline.fromAnnotations stage snapshots (tagged, events),
    * built from the cached [[goldenAnn]] and memoized as eager
    * localCheckpoints — q41/q42/kg_from_annotations previously each
    * re-ran the five-corpus annotation ingest per query (~18 s of the
    * round-4 bench). The fromAnnotations intermediate caches release
    * immediately after the snapshot materializes. */
  private val goldenStageCache =
    TrieMap.empty[String, (DataFrame, DataFrame)]
  private def goldenStages(s: SparkSession,
      corpus: String): (DataFrame, DataFrame) =
    goldenStageCache.getOrElseUpdate(corpus, {
      val ann = Pipeline.fromAnnotations(s,
        goldenAnn(s).filter(col("src") === corpus),
        "eventplus", s"Mu_test_data/$corpus.pred.json")
      val tagged = ann.tagged.toDF().localCheckpoint()
      val events = ann.events.localCheckpoint()
      ann.caches.foreach(_.unpersist())
      (tagged, events)
    })

  /** Typed views of [[goldenStages]] unioned across all five corpora —
    * the exact frames q41/q42 consume. fromAnnotations events carry the
    * extra duration/speculation columns; they drop here so the typed
    * union inside injectTempRelOnlyEvents lines up. */
  private def goldenTagged(s: SparkSession): org.apache.spark.sql.Dataset[Pipeline.TaggedSentence] = {
    import s.implicits._
    GoldenCorpora.map(goldenStages(s, _)._1).reduce(_ union _)
      .as[Pipeline.TaggedSentence]
  }
  private def goldenEvents(s: SparkSession): org.apache.spark.sql.Dataset[Pipeline.EventRow] = {
    import s.implicits._
    GoldenCorpora.map(goldenStages(s, _)._2).reduce(_ union _)
      .drop("duration", "speculation").as[Pipeline.EventRow]
  }

  /** Every named query: the `kg_*` family and the pipeline-stage
    * queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG pipeline (oracle: SQL over the gold triple set) ----
    "kg_triples_by_pred" -> ((s, dir) =>
      triplesFor(s, dir).groupBy(col("pred")).agg(count(lit(1)).as("n"))
        .orderBy("pred")),
    "kg_snapshot_delta" -> ((s, dir) =>
      // Incremental KG publishing: the changelog between the half-corpus
      // snapshot and the full corpus. Because the KG is a global
      // computation (sameAs clusters merge, canonical forms re-pick as
      // documents arrive), the delta carries dels as well as adds —
      // value-checked against the EXCEPT of two INDEPENDENTLY derived
      // gold sets (GoldDeriver runs per corpus size, no pipeline code).
      Triples.snapshotDelta(triplesFor(s, dir), priorTriplesFor(s, dir))
        .orderBy("op", "subj", "pred", "obj")),
    "kg_events_by_type" -> ((s, dir) =>
      triplesFor(s, dir).filter(col("pred") === "hasType")
        .groupBy(col("obj").as("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type")),
    "kg_relations_by_label" -> ((s, dir) =>
      triplesFor(s, dir)
        .filter(col("pred").isin("BEFORE", "AFTER", "SIMULTANEOUS",
          "INCLUDES", "IS_INCLUDED"))
        .groupBy(col("pred").as("label")).agg(count(lit(1)).as("n"))
        .orderBy("label")),
    "kg_sameas_clusters" -> ((s, dir) =>
      triplesFor(s, dir).filter(col("pred") === "sameAs")
        .groupBy(col("obj").as("canonical")).agg(count(lit(1)).as("cluster_size"))
        .orderBy(col("cluster_size").desc, col("canonical")).limit(20)),
    "kg_entities_top" -> ((s, dir) =>
      triplesFor(s, dir).filter(col("pred") === "hasEntity")
        .groupBy(col("obj").as("entity")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("entity")).limit(20)),
    "kg_timeline" -> ((s, dir) =>
      // per-doc timeline fit (timelinemodule.py analog) over the cached
      // triples; summarized as per-doc event counts + total normalized
      // mass. SUM, not AVG: the t values sit on a 1/10000 grid, so a
      // rounded sum is boundary-free across engines while avg lands
      // exactly on .00005 boundaries whenever n_events is even
      graft.eval.Timeline.fitFromTriples(s, triplesFor(s, dir))
        .groupBy("doc").agg(count(lit(1)).as("n_events"),
          round(sum(col("t")), 4).as("total_t"))
        .orderBy("doc")),

    // the relational back half of the KG pipeline (assembly → linking →
    // canonicalization → materialization, J2/U1/A6/triple-emit) replayed
    // over the reference's OWN golden annotation snapshot
    // (component/Duration/Mu_test_data/test_ace.pred.json, 832 sentences
    // annotated by the reference EventPlus pipeline) — hash-checked: the
    // DuckDB oracle re-derives the same triples in pure SQL, including a
    // recursive-CTE connected-components for the canonicalization.
    "kg_from_annotations" -> ((s, dir) => {
      import s.implicits._
      // stage snapshots from the shared golden cache (goldenStages) — the
      // round-4 variant re-ingested test_ace.pred.json per call;
      // materialize, not emit: Bench iterates every query in one session,
      // and the lazy emit would retain events/formMap/blockCanon caches
      val (tagged, events) = goldenStages(s, "test_ace")
      val emptyRels = s.emptyDataset[(String, Int, Int, String)]
        .toDF("sentKey", "lAligned", "rAligned", "label")
      Triples.materialize(s,
        Pipeline.Annotated(tagged.as[Pipeline.TaggedSentence], events, emptyRels),
        distinct = false)
        .select("subj", "pred", "obj").orderBy("subj", "pred", "obj")
    }),

    "q40_argument_spans" -> ((s, dir) => {
      // The argument tagging stage — the most intricate rule stage
      // (clause segmentation, RoleMap subject/object roles, ACE
      // role↔entity-type compatibility, prep-marked-location exclusion,
      // P11b/P11c masks + Viterbi decode) — driver-checked on real data:
      // the LIVE Taggers.argumentSpans per (sentence, trigger) over the
      // engine's own NER and trigger outputs. The oracle re-derives the
      // entire selection pipeline in SQL on top of the q38/q39 scaffolds.
      import s.implicits._
      import graft.tag.Taggers
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          val ner = Taggers.nerSpans(tokens)
          for {
            t <- Taggers.triggerSpans(tokens, ner)
            a <- Taggers.argumentSpans(tokens, ner, t)
          } yield (src, rec, t.start, a.role, a.start, a.end, a.text)
        }
        .toDF("src", "rec_idx", "trig_start", "role", "arg_start",
          "arg_end", "arg_text")
        .orderBy("src", "rec_idx", "trig_start", "role", "arg_start")
    }),
    "q39_trigger_spans" -> ((s, dir) => {
      // The trigger tagging stage (P11a entity mask + lexicon emissions +
      // B-merge Viterbi decode) driver-checked on real data: the LIVE
      // Taggers.triggerSpans over its own nerSpans output per golden
      // sentence. The oracle composes the q38 gazetteer walk (entity
      // mask), the q35 lemma derivation, the inlined trigger lexicon and
      // a gaps-and-islands run merge (adjacent same-type B tags merge —
      // the reference's B2I[B]=B convention).
      import s.implicits._
      import graft.tag.Taggers
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          Taggers.triggerSpans(tokens, Taggers.nerSpans(tokens)).map(tr =>
            (src, rec, tr.eventType, tr.text, tr.start, tr.end))
        }
        .toDF("src", "rec_idx", "event_type", "trig_text", "start_tok",
          "end_tok")
        .orderBy("src", "rec_idx", "start_tok")
    }),
    "q38_gazetteer_ner" -> ((s, dir) => {
      // The NER tagging stage (§2.10-1's gazetteer emissions + Viterbi
      // BIO decode) driver-checked on real data: Taggers.nerSpans over
      // every golden sentence; the oracle simulates the greedy
      // longest-match scan (with its skip semantics) as a recursive-CTE
      // cursor walk over the inlined gazetteer — so the Viterbi decode
      // provably reads the emissions off into exactly those spans.
      import s.implicits._
      import graft.tag.Taggers
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          Taggers.nerSpans(tokens).map(sp =>
            (src, rec, sp.start, sp.end, sp.label))
        }
        .toDF("src", "rec_idx", "start_tok", "end_tok", "label")
        .orderBy("src", "rec_idx", "start_tok")
    }),
    "q48_checkpoint_ner" -> ((s, dir) => {
      // S8 (model-checkpoint load → broadcast) driver-checked, the
      // torch.save/torch.load analog (run_model.py:109): the model
      // side-tables round-trip through an on-disk versioned checkpoint,
      // the LOADED tables broadcast to executors, and the NER decode
      // runs off the BROADCAST model — same output contract and same
      // oracle as q38's compiled-in path, so a serialization bug, a
      // lossy load, or a broadcast of the wrong table hash-fails.
      import s.implicits._
      import graft.tag.{Checkpoint, Taggers}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ckpt_q48").toString
      val file = Checkpoint.write(Checkpoint.fromOntology, tmp)
      val bc = s.sparkContext.broadcast(Checkpoint.load(file))
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val model = bc.value
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          Taggers.nerSpansWith(tokens, model.gazetteer, model.maxGazLen)
            .map(sp => (src, rec, sp.start, sp.end, sp.label))
        }
        .toDF("src", "rec_idx", "start_tok", "end_tok", "label")
        .orderBy("src", "rec_idx", "start_tok")
    }),
    "q43_ner_eval" -> ((s, dir) => {
      // J7/A5 driver-checked on reference data: strict span(+label)
      // P/R/F1 (eval.py:207-221 tuples) of the gazetteer NER stage's
      // output against the golden `ner` annotations, per corpus — via
      // Eval.spanPRFByKey, the DISTRIBUTED eval shape (semi-join +
      // groupBy only, no driver count() actions). The oracle re-derives
      // the pred side with the q38 recursive-CTE gazetteer walk and the
      // gold side straight from the JSON, then mirrors the three
      // grouped counts and the double P/R/F1 arithmetic.
      import graft.eval.Eval
      val ann = goldenAnn(s).select(col("src"),
        col("rec_idx").cast("long"), col("tokens"), col("ner"))
      import s.implicits._
      val pred = ann
        .select(col("src"), col("rec_idx"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          graft.tag.Taggers.nerSpans(tokens).map(sp =>
            (src, rec, sp.start, sp.end, sp.label))
        }
        .toDF("src", "rec_idx", "start_tok", "end_tok", "label")
      val gold = ann
        .select(col("src"), col("rec_idx"), explode(col("ner")).as("n"))
        .select(col("src"), col("rec_idx"),
          try_element_at(col("n"), lit(1)).cast("int").as("start_tok"),
          try_element_at(col("n"), lit(2)).cast("int").as("end_tok"),
          try_element_at(col("n"), lit(3)).as("label"))
      Eval.spanPRFByKey(pred, gold, Seq("src"),
          Seq("rec_idx", "start_tok", "end_tok", "label"))
        .orderBy("src")
    }),
    "q37_sentsplit" -> ((s, dir) => {
      // S1's segmentation half driver-checked: Text.sentSplit over every
      // document plus planted multi-sentence rows (the corpus documents
      // are single sentences, so the planted rows exercise the boundary
      // rules: abbreviation guard, decimal guard, closing-quote/paren
      // consumption, uppercase/digit lookahead). Oracle = the whole rule
      // set in SQL (independent per-position boundary conditions + lag
      // window reassembly).
      import s.implicits._
      val planted = Seq(
        (9000011L, "Dr. Smith arrived at 3.5 p.m. sharp. The meeting began. It ended quickly!"),
        (9000012L, "The U.S. Army moved fast. Gen. Brown spoke to Sgt. Reyes. All clear?"),
        (9000013L, "Costs rose 3.5 percent. (Not all agreed.) \"It works.\" She said so."),
        (9000014L, "He waited... Then left. Mr. Jones (b. 1970) waved. Versions 2.0 and 3.1 shipped."))
        .toDF("doc_id", "text")
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .unionByName(planted)
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.text.Text.sentSplit(text).zipWithIndex
            .map { case (sent, i) => (id, i, sent) }
        }
        .toDF("doc_id", "sent_idx", "sentence")
        .orderBy("doc_id", "sent_idx")
    }),
    "q36_tokenize" -> ((s, dir) => {
      // P1 — the shared deterministic tokenizer itself — driver-checked:
      // Text.tokenize over every document, one row per token; the oracle
      // re-derives the whole rule set in SQL (leading-punct strip,
      // iterative trailing strip with the dotted-acronym stop as a
      // max-stop-position comprehension, n't / possessive contraction
      // splits, per-chunk token ordering).
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.text.Text.tokenize(text).zipWithIndex
            .map { case (tok, i) => (id, i, tok) }
        }
        .toDF("doc_id", "tok_idx", "token")
        .orderBy("doc_id", "tok_idx")
    }),
    "q35_head_evidence" -> ((s, dir) => {
      // The TempRel head-detection evidence channels driver-checked on
      // real data: Taggers.headEvidence (lexical channel via lemmaOf +
      // trigger/TempRel lexicons; morphological channel via the irregular
      // past-form table + -ed heuristic) per golden token, plus the A1
      // mean>0.5 head decision. The oracle inlines the lexicons and the
      // normLemma suffix rules in SQL.
      import s.implicits._
      import graft.tag.Taggers
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          tokens.indices.map { i =>
            val Seq(lex, morph) = Taggers.headEvidence(tokens(i))
            (src, rec, i, lex, morph,
              if ((lex + morph) / 2 > 0.5) 1 else 0)
          }
        }
        .toDF("src", "rec_idx", "tok_idx", "lexical", "morphological",
          "is_head")
        .orderBy("src", "rec_idx", "tok_idx")
    }),
    "q34_negation_scope" -> ((s, dir) => {
      // P8 + negation cue/scope driver-checked on real data: the engine's
      // LIVE Taggers.negationCues (multiword cues, lexicon cues, affix
      // lexicon, the manual ['not'] override) and negationScope over
      // every golden sentence; the oracle re-derives all of it in SQL.
      import s.implicits._
      import org.apache.spark.sql.Row
      import graft.tag.Taggers
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          val cs = Taggers.negationCues(tokens)
          val sc = Taggers.negationScope(tokens, cs)
          tokens.indices.map(i => (src, rec, i, cs(i), sc(i)))
        }
        .toDF("src", "rec_idx", "tok_idx", "cue", "in_scope")
        .orderBy("src", "rec_idx", "tok_idx")
    }),
    "q33_copular_predicates" -> ((s, dir) => {
      // P13 + K4 driver-checked: Text.copularPredicate (copula-extended
      // predicate span, 5-word cap with "...") over every golden trigger
      // head in all five corpora; the oracle re-derives the back-scan /
      // verbal-heuristic / cap rules in pure SQL list comprehensions.
      import s.implicits._
      import org.apache.spark.sql.Row
      import graft.text.Text
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"),
          col("events"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          val events = Option(r.getAs[scala.collection.Seq[Row]]("events"))
            .getOrElse(scala.collection.Seq.empty)
          val heads = events.flatMap { ev =>
            Option(ev.getAs[scala.collection.Seq[Row]]("triggers"))
              .getOrElse(scala.collection.Seq.empty)
              .map(_.getAs[Int]("start_token"))
          }.distinct.sorted
          heads.map { root =>
            val (text, span, _) = Text.copularPredicate(tokens, root)
            (src, rec, root, span.head, span.last, text)
          }
        }
        .toDF("src", "rec_idx", "root_idx", "span_start", "span_end",
          "pred_text")
        .orderBy("src", "rec_idx", "root_idx")
    }),
    "q31_contained_args" -> ((s, dir) => {
      // J6 (interval-containment match) as a real non-equi JOIN, driver-
      // checked: golden argument spans matched to the golden entity span
      // that CONTAINS them (start >= entity start, end <= entity end) —
      // the same interval predicate the reference's gold-trigger partial
      // match uses (EventPipeline.tri_partial_match:87-98). Distinct arg
      // spans (duplicate events in the goldens carry repeated arguments).
      val ann = graft.sources.Sources.readAnnotationArray(s,
        "/root/reference/component/Duration/Mu_test_data/test_ace.pred.json")
      val args = ann
        .select(col("rec_idx").cast("long").as("rec_idx"),
          explode(col("events")).as("ev"))
        .select(col("rec_idx"), explode(col("ev.arguments")).as("a"))
        .select(col("rec_idx"), col("a.role").as("role"),
          col("a.start_token").as("a_start"), col("a.end_token").as("a_end"))
        .distinct()
      val ents = ann
        .select(col("rec_idx").cast("long").as("rec_idx"),
          explode(col("ner")).as("n"))
        .filter(size(col("n")) === 3)
        .select(col("rec_idx"),
          try_element_at(col("n"), lit(3)).as("ent_label"),
          try_element_at(col("n"), lit(1)).cast("int").as("n_start"),
          try_element_at(col("n"), lit(2)).cast("int").as("n_end"))
      args.join(ents,
          args("rec_idx") === ents("rec_idx") &&
            ents("n_start") <= args("a_start") &&
            args("a_end") <= ents("n_end"))
        .select(args("rec_idx"), col("role"), col("a_start"), col("a_end"),
          col("ent_label"), col("n_start"), col("n_end"))
        .orderBy("rec_idx", "role", "a_start", "a_end", "ent_label",
          "n_start", "n_end")
    }),
    "kg_timeline_golden" -> ((s, dir) => {
      // A8 (timeline fit) made driver-checkable: temporal relations are
      // derived by the engine's LIVE connective stage (Taggers
      // .relationLabel — J4 pairing + P6 NONE/VAGUE filter) over the
      // reference golden TimeBank triggers, then Timeline.fitDocTimelines
      // runs the longest-path layering + min-max normalization. The
      // DuckDB oracle re-derives everything — first-connective labeling,
      // directed weighted edges, longest-path via recursive CTE, the
      // half-even 4-decimal rounding (round_even) — independently.
      import s.implicits._
      val ann = graft.sources.Sources.readAnnotationArray(s,
        "/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json")
      import graft.tag.Taggers
      import org.apache.spark.sql.Row
      val prefix = "eventplus/Mu_test_data/test_tbd.pred.json#L0:S"
      val rels = ann.select(col("rec_idx"), col("tokens"), col("events"))
        .flatMap { r =>
          val rec = r.getInt(0)
          val tokens: Seq[String] =
            Option(r.getSeq[String](1)).getOrElse(Seq.empty)
          val events = Option(r.getAs[scala.collection.Seq[Row]]("events"))
            .getOrElse(scala.collection.Seq.empty)
          val heads = events.flatMap { ev =>
            Option(ev.getAs[scala.collection.Seq[Row]]("triggers"))
              .getOrElse(scala.collection.Seq.empty)
              .map(_.getAs[Int]("start_token"))
          }.distinct.sorted
          for {
            l <- heads; rr <- heads if l < rr
            lab = Taggers.relationLabel(tokens, l, rr)
            if lab != "NONE" && lab != "VAGUE"
          } yield (prefix + rec, l, rr, lab)
        }.toDF("sentKey", "lAligned", "rAligned", "label")
      graft.eval.Timeline.fitDocTimelines(s, rels).orderBy("doc", "eventId")
    }),
    "q41_align_inject" -> ((s, dir) => {
      // J1 (fuzzy nearest alignment, main.py:117-144 + `closest`
      // main.py:18-19) and U1 (typeless-event injection, main.py:146-167)
      // made driver-checkable on reference data: TempRel-style heads are
      // derived from every golden trigger across ALL FIVE corpora (8,191
      // heads) with a deterministic index perturbation
      // shift = (rec + start) % 6 - 2 ∈ {-2..3} (3 = out-of-band drop
      // case) and a '.' appended to every 7th head text (exercises the
      // '.'-strip rule). Pipeline.alignHeads recovers the alignment
      // (band |Δ| ≤ 2, nearest-|Δ| then lowest index) and the REAL
      // injectTempRelOnlyEvents decides containment against the golden
      // triggers; the oracle re-derives band, pick, strip, and the
      // NOT-EXISTS containment in SQL.
      import s.implicits._
      // checkpointed stage snapshots shared across the golden-query family
      // (goldenStages) — the round-4 variant re-ran all five
      // fromAnnotations ingests per query
      val tagged = goldenTagged(s)
      val events = goldenEvents(s)
      val sentToks = tagged.select(col("sentKey"), col("tokens"))
      val trig = tagged
        .select(col("sentKey"), col("senNum").as("rec"), col("tokens"),
          explode(col("triggers")).as("tr"))
        .select(col("sentKey"), col("rec"), col("tokens"),
          col("tr.start").as("start"))
      val trigHeads = trig
        .withColumn("tokIdx",
          col("start") + (col("rec") + col("start")) % 6 - 2)
        .withColumn("tok", concat(element_at(col("tokens"), col("start") + 1),
          when((col("rec") + col("start")) % 7 === 0, lit(".")).otherwise(lit(""))))
        .select("sentKey", "tokIdx", "tok")
      // second head family from NON-trigger tokens (every ~29th position):
      // these mostly align to themselves and are NOT contained in a golden
      // trigger, so the U1 injection path gets real volume (the
      // trigger-derived heads are almost all contained)
      val tokHeads = tagged
        .select(col("sentKey"), col("senNum").as("rec"),
          posexplode(col("tokens")).as(Seq("pos", "tok")))
        .filter((col("rec") * 31 + col("pos")) % 29 === 0)
        .select(col("sentKey"), col("pos").as("tokIdx"), col("tok"))
      val heads = trigHeads.unionByName(tokHeads)
        .groupBy("sentKey", "tokIdx").agg(min(col("tok")).as("tok"))
      val aligned = Pipeline.alignHeads(heads, sentToks)
      val injected = Pipeline
        .injectTempRelOnlyEvents(s, aligned, events, tagged)
        .filter(col("eventType") === "") // golden events are all typed
      val out = aligned
        .select(lit("align").as("kind"), col("sentKey").as("sent_key"),
          col("tokIdx").as("idx_in"), col("alignedIdx").as("idx_out"),
          col("alignedTok").as("tok"))
        .unionByName(injected
          .select(lit("inject").as("kind"), col("sentKey").as("sent_key"),
            col("trigStart").as("idx_in"), col("trigStart").as("idx_out"),
            col("trigText").as("tok")))
        .orderBy("kind", "sent_key", "idx_in", "idx_out")
      // no persist: the upstream frames are flat checkpointed snapshots,
      // and each driver main materializes this result exactly once
      out
    }),
    "q42_duration_speculation" -> ((s, dir) => {
      // J2 (duration blank-then-join, main.py:173-175/209-215), P10
      // (duration lexicon label, views.py:20-52 / utils_duration.py:9)
      // and P9 (speculation from the negation scope, main.py:226-230)
      // driver-checked on reference data: golden events from all five
      // corpora run the REAL Pipeline.durations (Taggers.durationOf) and
      // Pipeline.enrich, with the negation scope computed live by the
      // q34-checked Taggers.negationCues/negationScope over the golden
      // tokens. The oracle re-derives the lemma chain, the duration
      // lexicon, and the first-cue scope rule independently in SQL.
      import s.implicits._
      import graft.tag.Taggers
      // checkpointed stage snapshots shared across the golden-query family
      val tagged = goldenTagged(s)
        .map { t =>
          val cues = Taggers.negationCues(t.tokens)
          t.copy(negationCue = cues,
            negationScope = Taggers.negationScope(t.tokens, cues))
        }
      val events = goldenEvents(s)
      val durs = Pipeline.durations(s, events)
      Pipeline.enrich(s, events, durs, tagged)
        .select(col("sentKey").as("sent_key"),
          col("trigStart").as("trig_start"), col("trigText").as("trig_text"),
          col("duration"), col("speculation").as("speculated"))
        .orderBy("sent_key", "trig_start")
    }),
    "q44_resume_kg" -> ((s, dir) => {
      // S4 (checkpointed sink + resume) made driver-checkable — the
      // reference analog is the checkpoint-every-20-docs resume loop
      // (test_on_raw_text.py:119-120). Two runCheckpointed runs into a
      // fresh snapshot root at the sf0.001 corpus size: the first commits
      // the quarantine, annotated and triples stages (an Iceberg-style
      // manifest per stage, kg.Store), the second RESUMES — the query
      // THROWS unless every stage manifest is byte-identical after the
      // second run (a recompute rewrites the manifest, so silent
      // recompute fails the row), and the emitted
      // frame is the RESUMED run's triple set, hash-checked against the
      // independently derived gold TSV — so a resume that corrupts or
      // drops a committed stage fails the hash.
      import s.implicits._
      val (nFiles, spf) = (60L, 6)
      val root = java.nio.file.Files
        .createTempDirectory("graft_resume_q44").toString
      val sig = Main.inputSignature(s, s"synth:$nFiles:$spf")
      Pipeline.runCheckpointed(s, Synth.corpus(s, nFiles, spf), root, sig)
        .count() // cold run: commits all three stage snapshots
      val stages = Seq("quarantine", "annotated", "triples")
      def manifests(): Map[String, String] = stages.map { st =>
        val p = graft.kg.Store.manifestPath(root, st)
        st -> (if (java.nio.file.Files.exists(p))
          java.nio.file.Files.readString(p) else "")
      }.toMap
      val before = manifests()
      require(!before.values.exists(_.isEmpty),
        s"q44: cold run left uncommitted stages under $root")
      val resumed =
        Pipeline.runCheckpointed(s, Synth.corpus(s, nFiles, spf), root, sig)
      val after = manifests()
      val changed = stages.filter(st => before(st) != after(st))
      require(changed.isEmpty,
        s"q44: resume recomputed committed stage(s): ${changed.mkString(",")}")
      resumed.select("subj", "pred", "obj")
        .dropDuplicates()
        .orderBy("subj", "pred", "obj")
    }),
    "q47_timeline_fit" -> ((s, dir) => {
      // A8 with the REFERENCE's objective (timelinemodule.py:103-216):
      // per-doc Adam fit of (start, duration) on the binomial-CE +
      // pairwise-L1 loss, deterministic variant, distributed one-shuffle
      // groupByKey(doc). Hashed against the independent GoldDeriver
      // mirror run over the GOLD triple set (gold_timelines.tsv) — a
      // divergence in the optimizer arithmetic, the input wiring, or the
      // composed pipeline's relation/duration triples fails the hash.
      graft.eval.TimelineFit.fitFromTriples(s, triplesFor(s, dir))
        .orderBy("doc", "event")
    }),
    "q30_golden_spans" -> ((s, dir) => {
      // P3 (BIO->span decode) + P4 (span->text projection) made driver-
      // checkable: every golden span (ner/trigger/argument) from the
      // reference's test_ace.pred.json is round-tripped through the
      // engine's BIO tag path — bioEncode -> bioDecode -> spanText — and
      // the oracle re-derives (start, end, text) DIRECTLY from the JSON
      // with list_slice, so a decode quirk or an off-by-one in either
      // direction hash-fails. NER spans encode per sentence; trigger and
      // argument spans per event (the reference's X1 expansion shape).
      // ALL FIVE golden corpora (7,843 sentences) — the full span surface.
      import s.implicits._
      val ann = goldenAnn(s)
      import graft.text.Text
      import graft.text.Text.SpanLabel
      import org.apache.spark.sql.Row
      def viaBio(tokens: Seq[String], spans: Seq[SpanLabel]): Seq[SpanLabel] = {
        val b2i = spans.map(sp => s"B-${sp.label}" -> s"I-${sp.label}").toMap
        Text.bioDecode(Text.bioEncode(tokens.length, spans), b2i)
      }
      ann.select(col("rec_idx").cast("long"), col("tokens"), col("events"),
          col("ner"), col("src"))
        .flatMap { r =>
          val rec = r.getLong(0)
          val src = r.getString(4)
          val tokens: Seq[String] =
            Option(r.getSeq[String](1)).getOrElse(Seq.empty)
          def nested(row: Row, f: String): scala.collection.Seq[Row] =
            Option(row.getAs[scala.collection.Seq[Row]](f))
              .getOrElse(scala.collection.Seq.empty)
          val nerSpans = Option(r.getSeq[scala.collection.Seq[String]](3))
            .getOrElse(Seq.empty).filter(_.length == 3)
            .map(n => SpanLabel(n(2), n(0).toInt, n(1).toInt))
          val events = Option(r.getAs[scala.collection.Seq[Row]]("events"))
            .getOrElse(scala.collection.Seq.empty)
          def spansOf(row: Row, f: String, lab: Row => String): Seq[SpanLabel] =
            nested(row, f).map(x => SpanLabel(lab(x),
              x.getAs[Int]("start_token"), x.getAs[Int]("end_token"))).toSeq
          val out =
            viaBio(tokens, nerSpans).map(("ner", _)) ++
            events.toSeq.flatMap { ev =>
              viaBio(tokens, spansOf(ev, "triggers",
                _.getAs[String]("event_type"))).map(("trigger", _)) ++
              viaBio(tokens, spansOf(ev, "arguments",
                _.getAs[String]("role"))).map(("argument", _))
            }
          out.map { case (kind, sp) =>
            (src, rec, kind, sp.label, sp.start, sp.end,
              Text.spanText(tokens, sp.start, sp.end))
          }
        }
        .toDF("src", "rec_idx", "kind", "label", "start_tok", "end_tok",
          "span_text")
        .orderBy("src", "rec_idx", "kind", "start_tok", "end_tok", "label")
    }),
    "q49_wordpiece_pool" -> ((s, dir) => {
      // P2 (wordpiece re-tok + align map) + A2 (subword→word pooling)
      // made REAL and driver-checkable. Mirrors the reference exactly:
      // greedy WordPiece per original token (`tokenizer.tokenize(
      // orig_token)`, contextualized_features_bert.py:25-27, uncased),
      // the [CLS]-offset orig_to_tok_map (bert_token, its lines 9-34),
      // and get_repre_from_align's three pooling modes over each word's
      // own pieces (neural_model.py:322-342; 'head' = trigger/arg models
      // EventPipeline.py:359, 'max' = NER EventPipeline.py:324,
      // 'average' = the pooling= default). The oracle re-derives the
      // tokenization (q36 CTEs), the greedy segmentation (step-array +
      // recursive chain over the same vocab literals), the alignment
      // window-sum, and the pooled values in SQL.
      import s.implicits._
      import graft.text.Text
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val tokens = Text.tokenize(text)
          val (_, map) = Text.wordpieceAlign(tokens)
          tokens.indices.map { i =>
            val wp = Text.wordpiece(tokens(i))
            val (h, a, m) = Text.poolWord(wp)
            (id, i, tokens(i), wp.mkString(" "), wp.length, map(i), h, a, m)
          }
        }
        .toDF("doc_id", "tok_idx", "token", "pieces", "n_pieces",
          "bert_idx", "pool_head", "pool_avg", "pool_max")
        .orderBy("doc_id", "tok_idx")
    }),
    "q50_trigger_query" -> ((s, dir) => {
      // A3 (trigger-query max-pool) made REAL and driver-checkable:
      // get_query(att_pool='max') (neural_model.py:299-320) — select the
      // word-level representations at the event's trigger token indices
      // and max-pool them into the attention query, with the zeros
      // fallback when no anchors appear (its lines 307-311). Word
      // representations are the HEAD-piece values, matching
      // bert_encode_mthd='head' on the trigger/argument path
      // (EventPipeline.py:359). Run per golden event over all five
      // reference corpora; the oracle re-derives trigger spans from the
      // JSON and the wordpiece head values in SQL.
      import s.implicits._
      import graft.text.Text
      import org.apache.spark.sql.Row
      goldenAnn(s)
        .select(col("src"), col("rec_idx").cast("long"), col("tokens"),
          col("events"))
        .flatMap { r =>
          val src = r.getString(0)
          val rec = r.getLong(1)
          val tokens: Seq[String] =
            Option(r.getSeq[String](2)).getOrElse(Seq.empty)
          val events = Option(r.getAs[scala.collection.Seq[Row]](3))
            .getOrElse(scala.collection.Seq.empty)
          val reps = tokens.map(t => Text.pieceVal(Text.wordpiece(t).head))
          events.toSeq.zipWithIndex.map { case (ev, evIdx) =>
            val triggers =
              Option(ev.getAs[scala.collection.Seq[Row]]("triggers"))
                .getOrElse(scala.collection.Seq.empty)
            val triIdxs = triggers.toSeq.flatMap { tr =>
              (tr.getAs[Int]("start_token") to tr.getAs[Int]("end_token"))
                .filter(i => i >= 0 && i < tokens.length)
            }.distinct
            val qval = if (triIdxs.isEmpty) 0L else triIdxs.map(reps).max
            (src, rec, evIdx, triIdxs.length, qval)
          }
        }
        .toDF("src", "rec_idx", "event_idx", "n_tri", "query_max")
        .orderBy("src", "rec_idx", "event_idx")
    }),

    "kg_bgp" -> ((s, dir) => {
      // the downstream KG query surface: a 3-pattern conjunctive query
      // (SPARQL BGP) over the composed pipeline's committed triple set —
      // "temporally ordered event pairs with both their ACE types", the
      // typed event-chain view a KG consumer actually asks for (path +
      // star shape: one path edge, two star lookups). Compiled by Bgp to
      // pushed pred-filters + equi-joins on the shared variables; oracle
      // is the same conjunction as SQL self-joins over the independent
      // gold triple set.
      import graft.kg.Bgp, Bgp.TriplePattern
      Bgp.matchPatterns(triplesFor(s, dir), Seq(
        TriplePattern("?e1", "BEFORE", "?e2"),
        TriplePattern("?e1", "hasType", "?t1"),
        TriplePattern("?e2", "hasType", "?t2")))
        .select("e1", "t1", "e2", "t2")
        .orderBy("e1", "e2")
    }),

    "kg_bgp_optional" -> ((s, dir) => {
      // SPARQL-core algebra beyond plain conjunction: non-speculated
      // typed events (FILTER NOT EXISTS → left anti join) with their
      // location if any (OPTIONAL → left outer join, null where
      // unplaced). Non-degenerate on gold: both the anti-join and the
      // null/bound split fire (n60: 416 rows = 463 typed − 47 typed-
      // and-speculated; 203 placed / 213 null).
      import graft.kg.Bgp, Bgp.TriplePattern
      val tri = triplesFor(s, dir)
      val nonSpec = Bgp.matchNotExists(tri,
        Seq(TriplePattern("?e", "hasType", "?t")),
        TriplePattern("?e", "speculated", "?s"))
      Bgp.optionalJoin(tri, nonSpec, TriplePattern("?e", "Place", "?loc"))
        .select("e", "t", "loc")
        .orderBy(col("e"), col("loc").asc_nulls_first)
    }),

    "kg_ntriples" -> ((s, dir) =>
      // the standard RDF publishing sink: the committed triple set
      // serialized as W3C N-Triples lines — character-for-character
      // deterministic (literal replace chains, no regex), so the
      // serialization itself hash-checks against the same concat over
      // the gold set.
      Triples.toNTriples(triplesFor(s, dir)).orderBy("ntriple")),

    "kg_provenance" -> ((s, dir) =>
      // the per-row lineage invariant made driver-visible: every
      // committed triple carries (repo, path, contentSha) — sha256 of
      // the exact source bytes, stamped at ingest (Pipeline.scala) and
      // riding every stage unchanged. This row set (per-file triple
      // counts keyed by the full lineage) hash-checks against the same
      // aggregate over the gold TSV's independently derived lineage
      // columns, so a wrong sha, a mis-attributed triple, or a file
      // that silently lost/gained triples fails the hash.
      triplesFor(s, dir)
        .groupBy(col("repo"), col("path"),
          col("contentSha").as("content_sha"))
        .agg(count(lit(1)).as("n_triples"))
        .orderBy("repo", "path")),

    "kg_pagerank" -> ((s, dir) =>
      // KG centrality over the same canonical-lifted temporal graph the
      // closure infers on: 5-round fixed-iteration power method
      // (Triples.pageRank). Ranks emit as floor(r*1e9 + 0.5) integers —
      // pure double arithmetic on both sides, no decimal-string rounding
      // — so the double recurrence hash-checks against the identical
      // recurrence unrolled (r0..r5) in SQL over the independent gold
      // set.
      Triples.pageRank(temporalEdgesFor(s, dir), iters = 5)
        .select(col("v").as("node"),
          floor(col("r") * lit(1e9) + lit(0.5)).cast("long").as("rank_ppb"))
        .orderBy("node")),

    "kg_labelprop" -> ((s, dir) =>
      // deterministic community detection over the same canonical-lifted
      // temporal graph as kg_pagerank/kg_temporal_closure: 3-round
      // min-label propagation (Triples.labelProp — after diameter rounds
      // it is connected components; at 3 it is the bounded-round LPA a
      // streaming/incremental graph pipeline runs per snapshot). String
      // min is binary-lexicographic in both engines, so the fixed-round
      // recurrence unrolls exactly (l0..l3) in SQL over the independent
      // gold set.
      Triples.labelProp(temporalEdgesFor(s, dir), iters = 3)
        .select(col("v").as("node"), col("l").as("community"))
        .orderBy("node")),

    "kg_degree_dist" -> ((s, dir) =>
      // graph-shape audit for the published KG: histogram of per-term
      // total degree (out + in over ALL predicates — the snapshot
      // profile that catches hub blowups and skew before they hit a
      // downstream join). Two map-side-combinable aggregates + one
      // full-outer merge, all-integer, full hash oracle.
      Triples.degreeHistogram(
        triplesFor(s, dir).select("subj", "pred", "obj"))
        .orderBy("degree")),

    "kg_triangles" -> ((s, dir) =>
      // per-node triangle counts over the canonical-lifted event
      // co-occurrence graph — the clustering-structure audit (triangle
      // count is the numerator of the clustering coefficient; it
      // profiles how clique-like each canonical event's neighborhood is
      // before a downstream blocking join). Degree-oriented wedge
      // enumeration (Triples.triangleCounts): each undirected edge kept
      // once, directed low-(deg,id) → high, so a hub's wedge fan-out is
      // O(√m) — the skew-proof 100-TB shape, and the sameAs lift makes
      // real hubs (max degree 14 at sf0.001 → 40 at sf0.01; the
      // temporal BEFORE graph by contrast is near-chain, max degree 2,
      // and carries no triangles at all).
      Triples.triangleCountsSym(coocSymFor(s, dir))
        .orderBy("node")),

    "kg_kcore" -> ((s, dir) =>
      // 3-round 6-core peel over the same lifted graph — the KG
      // denoising filter (events attached only through sub-k
      // co-occurrence tendrils fall away; the densely-attested core
      // survives with its residual degree). Bounded rounds — NOT the
      // fixpoint — so the recurrence unrolls exactly in SQL, and the
      // cascade is real at both verify scales (round 2 peels nodes
      // that round 1's drops exposed).
      Triples.kCorePeelSym(coocSymFor(s, dir), k = 6, rounds = 3)
        .orderBy("node")),

    "kg_edge_jaccard" -> ((s, dir) =>
      // per-edge common-neighbor support + integer-quantized
      // neighborhood Jaccard over the same lifted graph — the linking
      // pipeline's cheap candidate filter between blocking and full
      // pairwise scoring (north-star stage: "blocking … then pairwise
      // similarity scoring"); common is also the edge's k-truss
      // support, the edge-level denoising analog of kg_kcore.
      // Triangle re-attribution reuses the degree-oriented enumeration
      // (Triples.edgeJaccard), so the O(√m) hub bound carries over;
      // ⌊100·common/u⌋ via integral div keeps the output exact
      // integers end-to-end → full hash oracle.
      Triples.edgeJaccardSym(coocSymFor(s, dir), coocSupportFor(s, dir))
        .orderBy("s", "o")),

    "kg_truss" -> ((s, dir) =>
      // 2-round 7-truss peel over the same lifted graph — the
      // edge-level denoising filter, one notch stricter than kg_kcore:
      // an edge survives a round only if its endpoints share >= 5
      // co-attested neighbors ON THE CURRENT surviving graph, so
      // weakly-attested links between otherwise-dense regions fall
      // away (the merge-candidate pruning a linking pipeline runs
      // after kg_edge_jaccard scores candidates). Bounded rounds — NOT
      // the fixpoint — so the recurrence unrolls exactly in SQL; each
      // round re-runs the shared degree-oriented triangle enumeration
      // on the shrinking graph (O(√m) hub bound holds every round),
      // and k=7 makes the cascade real at BOTH verify scales (round 2
      // peels edges round 1's drops exposed: 611 -> 609 survivors at
      // sf0.001, 6,688 -> 6,099 at sf0.01). Residual support reported
      // on the final surviving graph (may be < k-2, like kg_kcore's
      // residual degrees).
      Triples.kTrussPeelSym(coocSymFor(s, dir), coocSupportFor(s, dir),
        k = 7, rounds = 2)
        .orderBy("s", "o")),

    "q58_integrity_audit" -> ((s, dir) => {
      // The publishing data-quality gate (Triples.integrityAudit) on the
      // composed pipeline output, tested by planting: one known
      // violation per check alongside the (clean) pipeline triples — the
      // audit must find EXACTLY the planted set, and the oracle
      // re-derives every check in SQL over gold ∪ the same plants. A
      // pipeline that ever emits a violating triple fails the hash.
      import s.implicits._
      val planted = Seq(
        ("r9/p9#L1:S0:T1", "BEFORE", "r9/p9#L2:S0:T3"), // cross-sentence
        ("r9/p9#L1:S0:T1", "hasDuration", "centuries"), // bad class
        ("r9/p9#L1:S0:T1", "speculated", "maybe"),      // bad flag
        ("x1", "sameAs", "x2"),                          // target is a
        ("x2", "sameAs", "x3"),                          //   source → flag
        ("r9/p9", "hasEntity", "ALIEN:zork")             // bad label
      ).toDF("subj", "pred", "obj")
      Triples.integrityAudit(
        triplesFor(s, dir).select("subj", "pred", "obj")
          .unionByName(planted))
        .orderBy("violation", "subj", "pred", "obj")
    }),

    "kg_temporal_closure" -> ((s, dir) => {
      // KG inference over the composed pipeline output: temporal edges
      // (BEFORE plus reversed AFTER) lifted through the sameAs
      // canonicalization — so chains span sentences/documents via shared
      // canonical events — then shortest-hop transitive closure by
      // semi-naive BFS (Triples.transitiveClosure). hops > 1 rows are
      // facts the pairwise classifier never asserted; s == o rows are
      // temporal contradictions surfaced by linking. Oracle: the same
      // lift + a recursive CTE over the independent gold triple set.
      Triples.transitiveClosure(
        temporalEdgesFor(s, dir), maxHops = 12)
        .orderBy("s", "o")
    }),

    "q55_batch_plan" -> ((s, dir) => {
      // K3 driver row — the length-sorted batch plan and its padding
      // cost on a deterministic grouping (doc_id % 16), so the policy
      // the physical sortWithinPartitions applies inside tagStage is
      // value-checked: batches of 8 by ws-token length desc, pad_waste
      // = n*max-sum per batch. The oracle re-derives the whole plan
      // with SQL window functions.
      Pipeline.batchPadPlan(t(s, dir, "documents"), col("doc_id") % 16,
        Pipeline.wsTokens(col("text")), col("doc_id"), batchSize = 8)
        .orderBy("grp", "batch_id")
    })
  )

  /** Shared oracle CTE: the gold triple export for the scale factor under
    * test (see the kg_* oracle comment below). The delim is the two-char
    * sequence backslash-t, which DuckDB's read_csv parses as a tab. */
  private val goldCte: String =
    "WITH gold AS (SELECT * FROM read_csv('/tmp/graft_gold/*/gold_triples.tsv', " +
      "delim='\\t', header=true, all_varchar=true, filename=true) " +
      "WHERE filename LIKE '%/n' || (SELECT CASE count(*) " +
      "WHEN 6000 THEN '60_s6' WHEN 60000 THEN '600_s6' " +
      "WHEN 600000 THEN '6000_s8' ELSE 'unknown' END FROM lineitem) || '/%') "

  /** The canonical-lifted event co-occurrence graph (the SQL mirror of
    * liftedCooccurrenceEdges — same sameAs lift as the
    * kg_pagerank/kg_labelprop oracles, same `str_split(id, '#L')[1]`
    * doc prefix as the kg_timeline oracle) followed by the undirected
    * simple graph: the shared preamble of the kg_triangles and kg_kcore
    * oracles. Ends at `und(s, o)` (a.v < b.v in the pair join, so no
    * self-loops exist to drop). */
  private val liftedUndirectedCte: String =
    """, canon AS (SELECT subj AS ev, obj AS canon FROM gold WHERE pred = 'sameAs'),
      |evs AS (SELECT DISTINCT subj AS e FROM gold WHERE pred = 'hasType'),
      |dv AS (SELECT DISTINCT str_split(e.e, '#L')[1] AS doc, coalesce(c.canon, e.e) AS v
      |       FROM evs e LEFT JOIN canon c ON c.ev = e.e),
      |e AS (SELECT DISTINCT a.v AS s, b.v AS o FROM dv a
      |      JOIN dv b ON a.doc = b.doc AND a.v < b.v),
      |und AS (SELECT s, o FROM e UNION SELECT o, s FROM e)""".stripMargin

  /** q36's tokenizer CTE chain (Text.tokenize re-derived in DuckDB),
    * factored so the chain — ending at `perdoc(doc_id, alltoks)` — is
    * reusable by q49's wordpiece oracle. */
  private val docTokCtes: String =
    """docs AS (SELECT doc_id, text FROM documents),
      |chunks AS (SELECT doc_id, c, ci FROM (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(replace(text, chr(10), ' '), '\s+')) AS c,
      |    unnest(range(1, len(regexp_split_to_array(replace(text, chr(10), ' '), '\s+')) + 1)) AS ci
      |  FROM docs) WHERE c <> ''),
      |lead AS (SELECT doc_id, ci, c, length(c) AS m,
      |  COALESCE(list_min([j for j in range(1, length(c) + 1)
      |    if NOT list_contains(['"','''','(','[','{',chr(8220),chr(8221),chr(8216),chr(8217),chr(171)], substr(c, CAST(j AS INTEGER), 1))]), length(c) + 1) - 1 AS nlead
      |  FROM chunks),
      |lead2 AS (SELECT doc_id, ci, c, m,
      |  COALESCE(list_min([j for j in range(0, nlead + 1)
      |    if regexp_matches(substr(c, CAST(j + 1 AS INTEGER)), '^''(s|re|ve|ll|d|m)$', 'i')]), nlead) AS nlead
      |  FROM lead),
      |core0 AS (SELECT doc_id, ci, c, nlead, substr(c, nlead + 1) AS c1 FROM lead2),
      |peel AS (
      |  SELECT doc_id, ci, c, nlead, c1 AS rest, []::VARCHAR[] AS sufs, (c1 = '') AS done FROM core0
      |  UNION ALL
      |  SELECT doc_id, ci, c, nlead,
      |    CASE WHEN plen > 0 THEN substr(stripped, 1, CAST(plen AS INTEGER)) ELSE stripped END AS rest,
      |    (CASE WHEN plen > 0 THEN [substr(stripped, CAST(plen + 1 AS INTEGER))] ELSE []::VARCHAR[] END)
      |      || ttoks || sufs AS sufs,
      |    plen = 0 AS done
      |  FROM (
      |    SELECT doc_id, ci, c, nlead, sufs, stripped, ttoks,
      |      CASE WHEN lower(stripped) LIKE '%n''t' AND length(stripped) > 3
      |             THEN length(stripped) - 3
      |           WHEN (lower(stripped) LIKE '%''s' OR lower(stripped) LIKE '%''re'
      |                 OR lower(stripped) LIKE '%''ve' OR lower(stripped) LIKE '%''ll'
      |                 OR lower(stripped) LIKE '%''d' OR lower(stripped) LIKE '%''m')
      |                AND strpos(reverse(stripped), '''') > 0
      |                AND length(stripped) - strpos(reverse(stripped), '''') > 0
      |             THEN length(stripped) - strpos(reverse(stripped), '''')
      |           ELSE 0 END AS plen
      |    FROM (
      |      SELECT doc_id, ci, c, nlead, sufs,
      |        substr(rest, 1, CAST(mcore AS INTEGER)) AS stripped,
      |        [substr(rest, CAST(j AS INTEGER), 1) for j in range(mcore + 1, length(rest) + 1)] AS ttoks
      |      FROM (
      |        SELECT doc_id, ci, c, nlead, rest, sufs,
      |          COALESCE(list_max([L for L in range(1, length(rest) + 1)
      |            if NOT list_contains(['.',',',';',':','!','?','"','''',')',']','}',chr(8220),chr(8221),chr(8216),chr(8217),chr(187)], substr(rest, CAST(L AS INTEGER), 1))
      |               OR (substr(rest, CAST(L AS INTEGER), 1) = '.' AND regexp_matches(substr(rest, 1, CAST(L AS INTEGER)), '^([A-Za-z]\.)+$'))]), 0) AS mcore
      |        FROM peel WHERE NOT done)
      |    )
      |  )
      |),
      |toks AS (SELECT doc_id, ci,
      |  [substr(c, CAST(j AS INTEGER), 1) for j in range(1, nlead + 1)]
      |  || (CASE WHEN rest = '' THEN []::VARCHAR[] ELSE [rest] END)
      |  || sufs AS tl
      |  FROM peel WHERE done),
      |perdoc AS (SELECT doc_id, flatten(list(tl ORDER BY ci)) AS alltoks FROM toks GROUP BY doc_id)""".stripMargin

  private val q36TokenizeSql: String =
    "WITH RECURSIVE " + docTokCtes + "\n" +
      """SELECT doc_id, CAST(unnest(range(1, len(alltoks) + 1)) - 1 AS INTEGER) AS tok_idx,
        |       unnest(alltoks) AS token
        |FROM perdoc ORDER BY doc_id, tok_idx""".stripMargin

  /** Greedy-WordPiece CTE chain over a `wpwords(word)` input CTE:
    * ASCII-lower translate, per-position longest-match step array (the
    * list-comprehension analog of the longest-first scan), a recursive
    * chain that walks the steps, HF [UNK] semantics (empty / >100 chars /
    * any unmatchable position), and the three pooled values. Vocab
    * literals are GENERATED from [[graft.tag.Ontology.WordpieceVocab]] so
    * the SQL cannot drift from the JVM tokenizer. Ends with
    * `wpool(word, pieces_str, n_pieces, pool_head, pool_avg, pool_max)`.
    * The enclosing query must open with WITH RECURSIVE. */
  private val wpCtes: String = {
    val V = graft.tag.Ontology.WordpieceVocab
    val cs = V.Charset.replace("'", "''")
    val nc = V.NcMulti.map("'" + _ + "'").mkString("[", ",", "]")
    val ce = V.CMulti.map(p => "'" + p.substring(2) + "'").mkString("[", ",", "]")
    val mx = V.MaxPieceLen
    s"""wpw AS (SELECT word, translate(word, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS w FROM wpwords),
       |wpn AS (SELECT word, w, length(w) AS n FROM wpw),
       |wpsteps AS (SELECT word, w, n,
       |  CASE WHEN n = 0 OR n > 100 THEN NULL ELSE
       |  [ COALESCE(list_max([ L for L in range(1, least($mx, n - i + 1) + 1)
       |      if (L = 1 AND strpos('$cs', substr(w, CAST(i AS INTEGER), 1)) > 0)
       |      OR (L > 1 AND i = 1 AND list_contains($nc, substr(w, CAST(i AS INTEGER), CAST(L AS INTEGER))))
       |      OR (L > 1 AND i > 1 AND list_contains($ce, substr(w, CAST(i AS INTEGER), CAST(L AS INTEGER)))) ]), 0)
       |    for i in range(1, n + 1) ] END AS step
       |  FROM wpn),
       |wpseg AS (
       |  SELECT word, w, n, step, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces, (step IS NULL) AS unk FROM wpsteps
       |  UNION ALL
       |  SELECT word, w, n, step, CAST(pos + step[pos] AS INTEGER),
       |    list_append(pieces, CASE WHEN pos > 1 THEN '##' ELSE '' END || substr(w, pos, step[pos])),
       |    step[pos] = 0
       |  FROM wpseg WHERE NOT unk AND pos <= n AND step[pos] > 0),
       |wpterm AS (SELECT word, CASE WHEN unk OR pos <= n THEN ['[UNK]'] ELSE pieces END AS pieces
       |  FROM wpseg WHERE unk OR pos > n OR step[pos] = 0),
       |wpvals AS (SELECT word, pieces,
       |  [list_sum([ascii(substr(p, CAST(j AS INTEGER), 1)) * j for j in range(1, length(p) + 1)]) for p in pieces] AS vals
       |  FROM wpterm),
       |wpool AS (SELECT word, array_to_string(pieces, ' ') AS pieces_str, CAST(len(pieces) AS INTEGER) AS n_pieces,
       |  CAST(vals[1] AS BIGINT) AS pool_head,
       |  floor(CAST(list_sum(vals) AS DOUBLE) * 10000.0 / len(vals) + 0.5) / 10000.0 AS pool_avg,
       |  CAST(list_max(vals) AS BIGINT) AS pool_max FROM wpvals)""".stripMargin
  }

  private val q49WordpieceSql: String =
    "WITH RECURSIVE " + docTokCtes + ",\n" +
      """tokrows AS (SELECT doc_id, CAST(unnest(range(1, len(alltoks) + 1)) - 1 AS INTEGER) AS tok_idx,
        |           unnest(alltoks) AS token FROM perdoc),
        |wpwords AS (SELECT DISTINCT token AS word FROM tokrows),
        |""".stripMargin + wpCtes + ",\n" +
      """joined AS (SELECT t.doc_id, t.tok_idx, t.token, p.pieces_str AS pieces, p.n_pieces,
        |  p.pool_head, p.pool_avg, p.pool_max
        |  FROM tokrows t JOIN wpool p ON p.word = t.token)
        |SELECT doc_id, tok_idx, token, pieces, n_pieces,
        |  CAST(1 + COALESCE(sum(n_pieces) OVER (PARTITION BY doc_id ORDER BY tok_idx
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS bert_idx,
        |  pool_head, pool_avg, pool_max
        |FROM joined ORDER BY doc_id, tok_idx""".stripMargin

  private val q50TriggerQuerySql: String =
    "WITH RECURSIVE " +
      """f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx,
        |                unnest(json_extract(j, '$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens,
        |               CAST(rec->'$.events' AS JSON[]) AS evs FROM recs),
        |evr AS (SELECT src, rec_idx, unnest(evs) AS ev,
        |               CAST(unnest(range(1, len(evs) + 1)) - 1 AS INTEGER) AS event_idx FROM tok),
        |trigr AS (SELECT src, rec_idx, event_idx, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr FROM evr),
        |tridx AS (SELECT DISTINCT g.src, g.rec_idx, g.event_idx, CAST(u.i AS INTEGER) AS ti
        |          FROM trigr g
        |          JOIN tok k ON k.src = g.src AND k.rec_idx = g.rec_idx,
        |          unnest(range(CAST(g.tr->>'$.start_token' AS BIGINT), CAST(g.tr->>'$.end_token' AS BIGINT) + 1)) AS u(i)
        |          WHERE u.i >= 0 AND u.i < len(k.tokens)),
        |words AS (SELECT t.src, t.rec_idx, t.event_idx, t.ti, k.tokens[t.ti + 1] AS word
        |          FROM tridx t JOIN tok k ON k.src = t.src AND k.rec_idx = t.rec_idx),
        |wpwords AS (SELECT DISTINCT word FROM words),
        |""".stripMargin + wpCtes + ",\n" +
      """agg AS (SELECT w.src, w.rec_idx, w.event_idx,
        |          CAST(count(*) AS INTEGER) AS n_tri, max(p.pool_head) AS query_max
        |        FROM words w JOIN wpool p ON p.word = w.word
        |        GROUP BY w.src, w.rec_idx, w.event_idx),
        |allev AS (SELECT DISTINCT src, rec_idx, event_idx FROM evr)
        |SELECT a.src, a.rec_idx, a.event_idx,
        |       COALESCE(g.n_tri, 0) AS n_tri,
        |       CAST(COALESCE(g.query_max, 0) AS BIGINT) AS query_max
        |FROM allev a LEFT JOIN agg g
        |  ON g.src = a.src AND g.rec_idx = a.rec_idx AND g.event_idx = a.event_idx
        |ORDER BY a.src, a.rec_idx, a.event_idx""".stripMargin

  /** Shared DuckDB CTE block: the five golden corpora + inlined gazetteer
    * + the greedy longest-match scan (skip semantics included) as a
    * recursive-CTE cursor walk. Ends with the `walk` CTE defined; q38
    * selects the spans directly, q43 evals them against the golden `ner`
    * field. */
  private val gazWalkCtes: String =
    """WITH RECURSIVE f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
      |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
      |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
      |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
      |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
      |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
      |g2(w1, w2, typ) AS (VALUES ('George','Pataki','PER'), ('Mary','Jones','PER'), ('John','Smith','PER'), ('Elena','Garcia','PER'), ('Wei','Chen','PER'), ('Amir','Hassan','PER'), ('the','president','PER'), ('the','governor','PER'), ('the','senator','PER'), ('New','York','GPE'), ('the','Army','ORG'), ('the','Senate','ORG'), ('Acme','Corp','ORG'), ('Globex','Inc','ORG'), ('the','court','ORG'), ('the','police','ORG'), ('the','airport','FAC'), ('the','bridge','FAC'), ('the','hospital','FAC'), ('the','river','LOC'), ('the','border','LOC'), ('a','truck','VEH'), ('the','convoy','VEH'), ('a','rifle','WEA'), ('the','missile','WEA'), ('Persian','Gulf','LOC')),
      |g1(w1, typ) AS (VALUES ('Baghdad','GPE'), ('France','GPE'), ('Texas','GPE'), ('Kabul','GPE'), ('California','GPE'), ('U.S.','GPE'), ('Army','ORG'), ('soldiers','PER'), ('region','LOC'), ('governor','PER'), ('counties','GPE'), ('Pataki','PER'), ('Jones','PER'), ('Smith','PER'), ('Garcia','PER'), ('Chen','PER'), ('Hassan','PER')),
      |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
      |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, len(CAST(rec->'$.tokens' AS VARCHAR[])) AS n FROM recs
      |        WHERE len(CAST(rec->'$.tokens' AS VARCHAR[])) > 0),
      |walk(src, rec_idx, cur, mstart, mend, mtyp) AS (
      |  SELECT src, rec_idx, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR) FROM tok
      |  UNION ALL
      |  SELECT w.src, w.rec_idx,
      |    CASE WHEN m2.typ IS NOT NULL THEN w.cur + 2 ELSE w.cur + 1 END,
      |    CASE WHEN m2.typ IS NOT NULL OR m1.typ IS NOT NULL THEN w.cur ELSE NULL END,
      |    CASE WHEN m2.typ IS NOT NULL THEN w.cur + 1
      |         WHEN m1.typ IS NOT NULL THEN w.cur ELSE NULL END,
      |    COALESCE(m2.typ, m1.typ)
      |  FROM walk w
      |  JOIN tok t ON t.src = w.src AND t.rec_idx = w.rec_idx
      |  LEFT JOIN g2 m2 ON w.cur + 1 <= t.n AND t.tokens[w.cur] = m2.w1 AND t.tokens[w.cur + 1] = m2.w2
      |  LEFT JOIN g1 m1 ON m2.typ IS NULL AND t.tokens[w.cur] = m1.w1
      |  WHERE w.cur <= t.n)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (or, for `kg_*`, on the exported gold triple
    * set). Every query has one: the key sets of `queries` and `oracleSql`
    * are equal, so a query cannot be added without its oracle. */
  def oracleSql: Map[String, String] = Map(
    // ---- composed-pipeline value checks (kg_* over the synthetic
    // corpus). The oracle aggregates the INDEPENDENTLY DERIVED gold
    // triple set (GoldDeriver — plain Scala from Synth's gold
    // annotations, no pipeline code), exported by graft.Verify as a
    // sorted TSV under /tmp/graft_gold/n<files>_s<spf>/. One static SQL
    // serves every scale factor: the corpus size is recovered from the
    // registered lineitem view's row count (sf0.001→6000 rows→60 files,
    // sf0.01→60000→600, sf0.1→600000→6000) and selects the matching
    // export directory by filename. A composition bug anywhere in the
    // DAG (tagging → alignment → enrichment → linking →
    // canonicalization → emit) shifts these aggregates and fails the
    // hash — this is the end-to-end check the per-stage oracles
    // (q30-q42) cannot give.
    "kg_triples_by_pred" ->
      (goldCte + "SELECT pred, count(*) AS n FROM gold GROUP BY pred ORDER BY pred"),
    // kg_snapshot_delta: EXCEPT between the two independently derived
    // gold sets (full corpus vs half corpus) — both sides re-derived by
    // GoldDeriver per corpus size, so a pipeline bug that only shows
    // when later documents change earlier canonicalization fails here.
    "kg_snapshot_delta" ->
      ("WITH raw AS (SELECT subj, pred, obj, filename " +
        "FROM read_csv('/tmp/graft_gold/*/gold_triples.tsv', " +
        "delim='\\t', header=true, all_varchar=true, filename=true)), " +
        "sel AS (SELECT CASE count(*) WHEN 6000 THEN '60_s6' " +
        "WHEN 60000 THEN '600_s6' WHEN 600000 THEN '6000_s8' " +
        "ELSE 'unknown' END AS cur, CASE count(*) WHEN 6000 THEN '30_s6' " +
        "WHEN 60000 THEN '300_s6' WHEN 600000 THEN '3000_s8' " +
        "ELSE 'unknown' END AS pri FROM lineitem), " +
        "cur AS (SELECT DISTINCT subj, pred, obj FROM raw, sel " +
        "WHERE filename LIKE '%/n' || sel.cur || '/%'), " +
        "pri AS (SELECT DISTINCT subj, pred, obj FROM raw, sel " +
        "WHERE filename LIKE '%/n' || sel.pri || '/%'), " +
        "adds AS (SELECT * FROM cur EXCEPT SELECT * FROM pri), " +
        "dels AS (SELECT * FROM pri EXCEPT SELECT * FROM cur) " +
        "SELECT 'add' AS op, subj, pred, obj FROM adds " +
        "UNION ALL SELECT 'del' AS op, subj, pred, obj FROM dels " +
        "ORDER BY 1, 2, 3, 4"),
    "kg_events_by_type" ->
      (goldCte + "SELECT obj AS event_type, count(*) AS n FROM gold " +
        "WHERE pred = 'hasType' GROUP BY obj ORDER BY event_type"),
    "kg_relations_by_label" ->
      (goldCte + "SELECT pred AS label, count(*) AS n FROM gold " +
        "WHERE pred IN ('BEFORE','AFTER','SIMULTANEOUS','INCLUDES','IS_INCLUDED') " +
        "GROUP BY pred ORDER BY label"),
    "kg_sameas_clusters" ->
      (goldCte + "SELECT obj AS canonical, count(*) AS cluster_size FROM gold " +
        "WHERE pred = 'sameAs' GROUP BY obj " +
        "ORDER BY cluster_size DESC, canonical LIMIT 20"),
    "kg_entities_top" ->
      (goldCte + "SELECT obj AS entity, count(*) AS n FROM gold " +
        "WHERE pred = 'hasEntity' GROUP BY obj ORDER BY n DESC, entity LIMIT 20"),
    // kg_temporal_closure: the canonical-lifted temporal closure
    // re-derived from the gold set — sameAs lift via LEFT JOIN +
    // coalesce (gold omits identity mappings, like the engine), then a
    // recursive CTE bounded at the same 12 hops; min(d) = shortest hop,
    // matching the BFS anti-join semantics.
    "kg_temporal_closure" ->
      (goldCte +
        """, canon AS (SELECT subj AS ev, obj AS canon FROM gold WHERE pred = 'sameAs'),
          |raw AS (SELECT subj AS s, obj AS o FROM gold WHERE pred = 'BEFORE'
          |        UNION SELECT obj, subj FROM gold WHERE pred = 'AFTER'),
          |e AS (SELECT DISTINCT coalesce(cs.canon, r.s) AS s, coalesce(co.canon, r.o) AS o
          |      FROM raw r LEFT JOIN canon cs ON r.s = cs.ev
          |                 LEFT JOIN canon co ON r.o = co.ev),
          |cl AS (WITH RECURSIVE rec(s, o, d) AS (
          |    SELECT s, o, 1 FROM e
          |    UNION
          |    SELECT rec.s, e.o, rec.d + 1 FROM rec JOIN e ON rec.o = e.s WHERE rec.d < 12)
          |  SELECT s, o, CAST(min(d) AS BIGINT) AS hops FROM rec GROUP BY s, o)
          |SELECT s, o, hops FROM cl ORDER BY s, o""".stripMargin),
    // kg_timeline: the A8 longest-path layering per document over the
    // gold relation triples — directed weighted edges, per-doc recursive
    // reach, per-doc min-max normalization with half-even rounding
    // (round_even = Scala math.rint), then the per-doc summary.
    "kg_timeline" ->
      ("WITH RECURSIVE gold AS (SELECT * FROM read_csv('/tmp/graft_gold/*/gold_triples.tsv', " +
        "delim='\\t', header=true, all_varchar=true, filename=true) " +
        "WHERE filename LIKE '%/n' || (SELECT CASE count(*) " +
        "WHEN 6000 THEN '60_s6' WHEN 60000 THEN '600_s6' " +
        "WHEN 600000 THEN '6000_s8' ELSE 'unknown' END FROM lineitem) || '/%'), " +
        """e AS (SELECT str_split(subj, '#L')[1] AS doc, subj, obj, pred FROM gold
          |       WHERE pred IN ('BEFORE','AFTER','SIMULTANEOUS','INCLUDES','IS_INCLUDED')),
          |dedges AS (SELECT doc, subj AS src, obj AS dst, 1 AS w FROM e WHERE pred = 'BEFORE'
          |  UNION ALL SELECT doc, obj, subj, 1 FROM e WHERE pred = 'AFTER'
          |  UNION ALL SELECT doc, subj, obj, 0 FROM e WHERE pred IN ('SIMULTANEOUS','INCLUDES','IS_INCLUDED')
          |  UNION ALL SELECT doc, obj, subj, 0 FROM e WHERE pred IN ('SIMULTANEOUS','INCLUDES','IS_INCLUDED')),
          |nodes AS (SELECT DISTINCT doc, subj AS v FROM e UNION SELECT DISTINCT doc, obj FROM e),
          |reach(doc, v, d) AS (SELECT doc, v, 0 FROM nodes
          |  UNION SELECT de.doc, de.dst, r.d + de.w FROM reach r
          |        JOIN dedges de ON de.doc = r.doc AND de.src = r.v WHERE r.d + de.w <= 1000),
          |tval AS (SELECT doc, v, MAX(d) AS d FROM reach GROUP BY doc, v),
          |stats AS (SELECT doc, MIN(d) AS lo, MAX(d) - MIN(d) AS span FROM tval GROUP BY doc),
          |tt AS (SELECT t.doc, t.v,
          |  CASE WHEN s.span = 0 THEN 0.0
          |       ELSE round_even((CAST(t.d - s.lo AS DOUBLE) / s.span) * 10000, 0) / 10000 END AS t
          |  FROM tval t JOIN stats s USING (doc))
          |SELECT doc, COUNT(*) AS n_events, CAST(ROUND(SUM(t), 4) AS DOUBLE) AS total_t
          |FROM tt GROUP BY doc ORDER BY doc""".stripMargin),

    // kg_timeline_golden: the A8 timeline re-derived end-to-end in SQL —
    // first-connective relation labeling over golden TimeBank triggers,
    // NONE/VAGUE filter, longest-path layering as a recursive CTE over
    // the directed weighted constraint graph (BEFORE: a->b w1; AFTER:
    // b->a w1; SIMULTANEOUS/INCLUDES: 0-weight both ways), min-max
    // normalization with half-even 4-decimal rounding (round_even =
    // Scala math.rint).
    "kg_timeline_golden" ->
      """WITH RECURSIVE
        |conn(tok, lab) AS (VALUES ('before','BEFORE'),('until','BEFORE'),('after','AFTER'),('once','AFTER'),('while','SIMULTANEOUS'),('during','SIMULTANEOUS'),('as','SIMULTANEOUS'),('when','VAGUE'),('and','NONE')),
        |f AS (SELECT json(content) AS j FROM read_text('/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json')),
        |recs AS (SELECT unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, rec FROM recs),
        |heads0 AS (SELECT DISTINCT rec_idx, CAST(tr->>'$.start_token' AS INTEGER) AS h
        |           FROM (SELECT rec_idx, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr
        |                 FROM (SELECT rec_idx, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM tok))),
        |pairs AS (SELECT a.rec_idx, a.h AS l, b.h AS r FROM heads0 a JOIN heads0 b ON a.rec_idx=b.rec_idx AND a.h < b.h),
        |withtok AS (SELECT p.rec_idx, p.l, p.r, t.tokens FROM pairs p JOIN tok t USING (rec_idx)),
        |cand AS (SELECT rec_idx, l, r, tokens, unnest(range(l+1, r)) AS i FROM withtok),
        |hit AS (SELECT c.rec_idx, c.l, c.r, c.i, cn.lab,
        |        row_number() OVER (PARTITION BY c.rec_idx, c.l, c.r ORDER BY c.i) AS rn
        |        FROM (SELECT rec_idx, l, r, i, lower(tokens[CAST(i AS INTEGER)+1]) AS w FROM cand) c
        |        JOIN conn cn ON cn.tok = c.w),
        |rels AS (SELECT rec_idx, l, r, lab FROM hit WHERE rn = 1 AND lab NOT IN ('NONE','VAGUE')),
        |e AS (SELECT 'eventplus/Mu_test_data/test_tbd.pred.json#L0:S' || rec_idx || ':T' || l AS a,
        |             'eventplus/Mu_test_data/test_tbd.pred.json#L0:S' || rec_idx || ':T' || r AS b, lab FROM rels),
        |dedges AS (
        |  SELECT a AS src, b AS dst, 1 AS w FROM e WHERE lab='BEFORE'
        |  UNION ALL SELECT b, a, 1 FROM e WHERE lab='AFTER'
        |  UNION ALL SELECT a, b, 0 FROM e WHERE lab IN ('SIMULTANEOUS','INCLUDES','IS_INCLUDED')
        |  UNION ALL SELECT b, a, 0 FROM e WHERE lab IN ('SIMULTANEOUS','INCLUDES','IS_INCLUDED')),
        |nodes AS (SELECT a AS v FROM e UNION SELECT b FROM e),
        |reach(v, d) AS (SELECT v, 0 FROM nodes
        |  UNION SELECT de.dst, r.d + de.w FROM reach r JOIN dedges de ON de.src = r.v WHERE r.d + de.w <= 1000),
        |tval AS (SELECT v, MAX(d) AS t FROM reach GROUP BY v),
        |stats AS (SELECT MIN(t) AS lo, MAX(t) - MIN(t) AS span FROM tval)
        |SELECT 'eventplus/Mu_test_data/test_tbd.pred.json' AS doc, v AS eventId,
        |  CASE WHEN span = 0 THEN 0.0
        |       ELSE round_even((CAST(t - lo AS DOUBLE) / span) * 10000, 0) / 10000 END AS t
        |FROM tval, stats ORDER BY doc, eventId""".stripMargin,

    // q40: the argument selection pipeline in SQL — segment bounds
    // via delimiter comprehensions, RoleMap VALUES, compatibility
    // CASEs, windowed last-subject / first-object / last-location
    // picks with the prep-marked and chosen-object exclusions.
    "q40_argument_spans" ->
      """WITH RECURSIVE f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |g2(w1, w2, typ) AS (VALUES ('George','Pataki','PER'), ('Mary','Jones','PER'), ('John','Smith','PER'), ('Elena','Garcia','PER'), ('Wei','Chen','PER'), ('Amir','Hassan','PER'), ('the','president','PER'), ('the','governor','PER'), ('the','senator','PER'), ('New','York','GPE'), ('the','Army','ORG'), ('the','Senate','ORG'), ('Acme','Corp','ORG'), ('Globex','Inc','ORG'), ('the','court','ORG'), ('the','police','ORG'), ('the','airport','FAC'), ('the','bridge','FAC'), ('the','hospital','FAC'), ('the','river','LOC'), ('the','border','LOC'), ('a','truck','VEH'), ('the','convoy','VEH'), ('a','rifle','WEA'), ('the','missile','WEA'), ('Persian','Gulf','LOC')),
        |g1(w1, typ) AS (VALUES ('Baghdad','GPE'), ('France','GPE'), ('Texas','GPE'), ('Kabul','GPE'), ('California','GPE'), ('U.S.','GPE'), ('Army','ORG'), ('soldiers','PER'), ('region','LOC'), ('governor','PER'), ('counties','GPE'), ('Pataki','PER'), ('Jones','PER'), ('Smith','PER'), ('Garcia','PER'), ('Chen','PER'), ('Hassan','PER')),
        |irr(surface, lemma) AS (VALUES ('acquired','acquire'), ('acquitted','acquit'), ('announced','announce'), ('appealed','appeal'), ('appointed','appoint'), ('arrested','arrest'), ('arrived','arrive'), ('attacked','attack'), ('began','begin'), ('bombed','bomb'), ('bought','buy'), ('called','call'), ('charged','charge'), ('continued','continue'), ('convicted','convict'), ('decided','decide'), ('deployed','deploy'), ('died','die'), ('dissolved','dissolve'), ('divorced','divorce'), ('donated','donate'), ('elected','elect'), ('ended','end'), ('executed','execute'), ('expected','expect'), ('extradited','extradite'), ('fined','fine'), ('founded','found'), ('happened','happen'), ('hired','hire'), ('indicted','indict'), ('injured','injure'), ('invaded','invade'), ('jailed','jail'), ('left','leave'), ('marched','march'), ('married','marry'), ('merged','merge'), ('met','meet'), ('nominated','nominate'), ('paid','pay'), ('pardoned','pardon'), ('paroled','parole'), ('perished','perish'), ('planned','plan'), ('protested','protest'), ('reported','report'), ('resigned','resign'), ('retired','retire'), ('returned','return'), ('said','say'), ('sentenced','sentence'), ('sold','sell'), ('sued','sue'), ('testified','testify'), ('toured','tour'), ('traveled','travel'), ('visited','visit'), ('wed','wed'), ('wounded','wound'), ('wrote','write')),
        |tl(lemma, typ) AS (VALUES ('acquire','Transaction:Transfer-Ownership'), ('acquit','Justice:Acquit'), ('appeal','Justice:Appeal'), ('appoint','Personnel:Start-Position'), ('arrest','Justice:Arrest-Jail'), ('arrive','Movement:Transport'), ('attack','Conflict:Attack'), ('bankrupt','Business:Declare-Bankruptcy'), ('bomb','Conflict:Attack'), ('born','Life:Be-Born'), ('buy','Transaction:Transfer-Ownership'), ('call','Contact:Phone-Write'), ('charge','Justice:Charge-Indict'), ('convict','Justice:Convict'), ('deploy','Movement:Transport'), ('die','Life:Die'), ('dissolve','Business:End-Org'), ('divorce','Life:Divorce'), ('donate','Transaction:Transfer-Money'), ('elect','Personnel:Elect'), ('execute','Justice:Execute'), ('extradite','Justice:Extradite'), ('fine','Justice:Fine'), ('found','Business:Start-Org'), ('hire','Personnel:Start-Position'), ('indict','Justice:Charge-Indict'), ('injure','Life:Injure'), ('invade','Conflict:Attack'), ('jail','Justice:Arrest-Jail'), ('launch','Business:Start-Org'), ('march','Conflict:Demonstrate'), ('marry','Life:Marry'), ('meet','Contact:Meet'), ('merge','Business:Merge-Org'), ('nominate','Personnel:Nominate'), ('pardon','Justice:Pardon'), ('parole','Justice:Release-Parole'), ('pay','Transaction:Transfer-Money'), ('perish','Life:Die'), ('protest','Conflict:Demonstrate'), ('resign','Personnel:End-Position'), ('retire','Personnel:End-Position'), ('sell','Transaction:Transfer-Ownership'), ('sentence','Justice:Sentence'), ('sue','Justice:Sue'), ('testify','Justice:Trial-Hearing'), ('tour','Movement:Transport'), ('travel','Movement:Transport'), ('visit','Contact:Meet'), ('wed','Life:Marry'), ('wound','Life:Injure'), ('write','Contact:Phone-Write')),
        |rm(etype, srole, orole) AS (VALUES ('Movement:Transport','Artifact','Artifact'), ('Conflict:Attack','Attacker','Target'), ('Conflict:Demonstrate','Entity','Place'), ('Contact:Meet','Entity','Entity'), ('Contact:Phone-Write','Entity','Entity'), ('Justice:Acquit','Adjudicator','Defendant'), ('Justice:Appeal','Defendant','Adjudicator'), ('Justice:Arrest-Jail','Agent','Person'), ('Justice:Charge-Indict','Prosecutor','Defendant'), ('Justice:Convict','Adjudicator','Defendant'), ('Justice:Execute','Agent','Person'), ('Justice:Extradite','Agent','Person'), ('Justice:Fine','Adjudicator','Entity'), ('Justice:Pardon','Adjudicator','Defendant'), ('Justice:Release-Parole','Entity','Person'), ('Justice:Sentence','Adjudicator','Defendant'), ('Justice:Sue','Plaintiff','Defendant'), ('Justice:Trial-Hearing','Prosecutor','Defendant'), ('Life:Be-Born','Person','Place'), ('Life:Die','Agent','Victim'), ('Life:Divorce','Person','Person'), ('Life:Injure','Agent','Victim'), ('Life:Marry','Person','Person'), ('Personnel:Elect','Entity','Person'), ('Personnel:End-Position','Person','Entity'), ('Personnel:Nominate','Agent','Person'), ('Personnel:Start-Position','Entity','Person'), ('Transaction:Transfer-Money','Giver','Recipient'), ('Transaction:Transfer-Ownership','Buyer','Artifact'), ('Business:Start-Org','Agent','Org'), ('Business:Merge-Org','Org','Org'), ('Business:End-Org','Agent','Org'), ('Business:Declare-Bankruptcy','Org','Place')),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens,
        |               [lower(x) for x in CAST(rec->'$.tokens' AS VARCHAR[])] AS low,
        |               len(CAST(rec->'$.tokens' AS VARCHAR[])) AS n FROM recs
        |        WHERE len(CAST(rec->'$.tokens' AS VARCHAR[])) > 0),
        |walk(src, rec_idx, cur, mstart, mend, mtyp) AS (
        |  SELECT src, rec_idx, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR) FROM tok
        |  UNION ALL
        |  SELECT w.src, w.rec_idx,
        |    CASE WHEN m2.typ IS NOT NULL THEN w.cur + 2 ELSE w.cur + 1 END,
        |    CASE WHEN m2.typ IS NOT NULL OR m1.typ IS NOT NULL THEN w.cur ELSE NULL END,
        |    CASE WHEN m2.typ IS NOT NULL THEN w.cur + 1
        |         WHEN m1.typ IS NOT NULL THEN w.cur ELSE NULL END,
        |    COALESCE(m2.typ, m1.typ)
        |  FROM walk w
        |  JOIN tok t ON t.src = w.src AND t.rec_idx = w.rec_idx
        |  LEFT JOIN g2 m2 ON w.cur + 1 <= t.n AND t.tokens[w.cur] = m2.w1 AND t.tokens[w.cur + 1] = m2.w2
        |  LEFT JOIN g1 m1 ON m2.typ IS NULL AND t.tokens[w.cur] = m1.w1
        |  WHERE w.cur <= t.n),
        |ners AS (SELECT src, rec_idx, mstart AS ea, mend AS eb, mtyp AS etyp FROM walk WHERE mstart IS NOT NULL),
        |entpos AS (SELECT DISTINCT src, rec_idx, unnest(range(ea, eb + 1)) AS ip FROM ners),
        |pos AS (SELECT src, rec_idx, tokens, n, unnest(range(1, n + 1)) AS ip FROM tok),
        |lems AS (SELECT p.src, p.rec_idx, p.ip, p.tokens, p.n, lower(p.tokens[p.ip]) AS lo,
        |  regexp_replace(lower(p.tokens[p.ip]), '''s$', '') AS b0, i.lemma AS irrlemma,
        |  e.ip IS NOT NULL AS is_ent
        |  FROM pos p
        |  LEFT JOIN irr i ON i.surface = lower(p.tokens[p.ip])
        |  LEFT JOIN entpos e ON e.src = p.src AND e.rec_idx = p.rec_idx AND e.ip = p.ip),
        |typed AS (SELECT l.src, l.rec_idx, l.ip, l.n, t.typ
        |  FROM (SELECT src, rec_idx, ip, n,
        |          COALESCE(irrlemma,
        |            CASE WHEN length(b0)>4 AND b0 LIKE '%ies' THEN substr(b0,1,length(b0)-3)||'y'
        |                 WHEN length(b0)>4 AND b0 LIKE '%ing' THEN substr(b0,1,length(b0)-3)
        |                 WHEN length(b0)>3 AND b0 LIKE '%ed' THEN substr(b0,1,length(b0)-2)
        |                 WHEN length(b0)>3 AND b0 LIKE '%es' THEN substr(b0,1,length(b0)-2)
        |                 WHEN length(b0)>3 AND b0 LIKE '%s' AND NOT b0 LIKE '%ss' THEN substr(b0,1,length(b0)-1)
        |                 ELSE b0 END) AS lemma
        |        FROM lems WHERE NOT is_ent) l
        |  JOIN tl t ON t.lemma = l.lemma),
        |runs AS (SELECT src, rec_idx, ip, n, typ,
        |  ip - row_number() OVER (PARTITION BY src, rec_idx, typ ORDER BY ip) AS grp
        |  FROM typed),
        |runspan AS (SELECT src, rec_idx, typ, MIN(ip) AS a, MAX(ip) AS b, any_value(n) AS n
        |  FROM runs GROUP BY src, rec_idx, typ, grp),
        |trigs AS (
        |  SELECT src, rec_idx, typ, b AS sp, b AS ep FROM runspan
        |  UNION ALL
        |  SELECT src, rec_idx, typ, b - 1 AS sp, b AS ep FROM runspan WHERE b = n AND b > a),
        |tseg AS (SELECT tr.src, tr.rec_idx, tr.typ, tr.sp, tr.ep, t.tokens, t.low, t.n,
        |  COALESCE(list_max([p for p in range(1, tr.sp)
        |    if list_contains(['before','until','after','once','while','during','as','when','and','that','.','!','?'], t.low[p])]), 0) + 1 AS segs,
        |  COALESCE(list_min([p for p in range(tr.sp + 1, t.n + 1)
        |    if list_contains(['before','until','after','once','while','during','as','when','and','that','.','!','?'], t.low[p])]), t.n + 1) AS sege,
        |  COALESCE(r.srole, 'Entity') AS srole, COALESCE(r.orole, 'Entity') AS orole,
        |  CASE WHEN tr.typ = 'Movement:Transport' THEN 'Destination' ELSE 'Place' END AS lrole
        |  FROM trigs tr JOIN tok t USING (src, rec_idx)
        |  LEFT JOIN rm r ON r.etype = tr.typ),
        |cand AS (SELECT ts.*, e.ea, e.eb, e.etyp
        |  FROM tseg ts JOIN ners e USING (src, rec_idx)
        |  WHERE e.ea >= ts.segs AND e.eb < ts.sege),
        |subj AS (SELECT * FROM (
        |  SELECT src, rec_idx, sp, srole AS role, ea, eb, tokens,
        |    row_number() OVER (PARTITION BY src, rec_idx, sp, ep ORDER BY ea DESC) AS rn
        |  FROM cand WHERE eb < sp AND CASE WHEN srole = 'Artifact' THEN list_contains(['PER','VEH','WEA'], etyp)
        |       WHEN srole IN ('Destination','Origin','Place') THEN list_contains(['GPE','LOC','FAC'], etyp)
        |       ELSE TRUE END) WHERE rn = 1),
        |obj AS (SELECT * FROM (
        |  SELECT src, rec_idx, sp, ep, orole AS role, ea, eb, tokens,
        |    row_number() OVER (PARTITION BY src, rec_idx, sp, ep ORDER BY ea) AS rn
        |  FROM cand WHERE ea > ep AND CASE WHEN orole = 'Artifact' THEN list_contains(['PER','VEH','WEA'], etyp)
        |       WHEN orole IN ('Destination','Origin','Place') THEN list_contains(['GPE','LOC','FAC'], etyp)
        |       ELSE TRUE END
        |    AND NOT (ea > 1 AND list_contains(['in','at'], low[ea - 1]))) WHERE rn = 1),
        |loc AS (SELECT * FROM (
        |  SELECT c.src, c.rec_idx, c.sp, c.lrole AS role, c.ea, c.eb, c.tokens,
        |    row_number() OVER (PARTITION BY c.src, c.rec_idx, c.sp, c.ep ORDER BY c.ea DESC) AS rn
        |  FROM cand c
        |  LEFT JOIN obj o ON o.src = c.src AND o.rec_idx = c.rec_idx AND o.sp = c.sp AND o.ep = c.ep
        |                  AND o.ea = c.ea AND o.eb = c.eb
        |  WHERE c.ea > c.ep AND CASE WHEN c.lrole = 'Artifact' THEN list_contains(['PER','VEH','WEA'], c.etyp)
        |       WHEN c.lrole IN ('Destination','Origin','Place') THEN list_contains(['GPE','LOC','FAC'], c.etyp)
        |       ELSE TRUE END AND o.ea IS NULL) WHERE rn = 1),
        |allargs AS (
        |  SELECT src, rec_idx, sp, role, ea, eb, tokens FROM subj
        |  UNION ALL SELECT src, rec_idx, sp, role, ea, eb, tokens FROM obj
        |  UNION ALL SELECT src, rec_idx, sp, role, ea, eb, tokens FROM loc)
        |SELECT src, rec_idx, CAST(sp - 1 AS INTEGER) AS trig_start, role,
        |  CAST(ea - 1 AS INTEGER) AS arg_start, CAST(eb - 1 AS INTEGER) AS arg_end,
        |  array_to_string(tokens[ea : eb], ' ') AS arg_text
        |FROM allargs ORDER BY src, rec_idx, trig_start, role, arg_start""".stripMargin,

    // q39: entity-masked trigger lexicon + adjacent-B run merge in
    // SQL (gazetteer walk for the mask, lemma CASE chain, inlined
    // trigger lexicon, gaps-and-islands span merge).
    "q39_trigger_spans" ->
      """WITH RECURSIVE f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |g2(w1, w2) AS (VALUES ('George','Pataki'), ('Mary','Jones'), ('John','Smith'), ('Elena','Garcia'), ('Wei','Chen'), ('Amir','Hassan'), ('the','president'), ('the','governor'), ('the','senator'), ('New','York'), ('the','Army'), ('the','Senate'), ('Acme','Corp'), ('Globex','Inc'), ('the','court'), ('the','police'), ('the','airport'), ('the','bridge'), ('the','hospital'), ('the','river'), ('the','border'), ('a','truck'), ('the','convoy'), ('a','rifle'), ('the','missile'), ('Persian','Gulf')),
        |g1(w1) AS (VALUES ('Baghdad'), ('France'), ('Texas'), ('Kabul'), ('California'), ('U.S.'), ('Army'), ('soldiers'), ('region'), ('governor'), ('counties'), ('Pataki'), ('Jones'), ('Smith'), ('Garcia'), ('Chen'), ('Hassan')),
        |irr(surface, lemma) AS (VALUES ('acquired','acquire'), ('acquitted','acquit'), ('announced','announce'), ('appealed','appeal'), ('appointed','appoint'), ('arrested','arrest'), ('arrived','arrive'), ('attacked','attack'), ('began','begin'), ('bombed','bomb'), ('bought','buy'), ('called','call'), ('charged','charge'), ('continued','continue'), ('convicted','convict'), ('decided','decide'), ('deployed','deploy'), ('died','die'), ('dissolved','dissolve'), ('divorced','divorce'), ('donated','donate'), ('elected','elect'), ('ended','end'), ('executed','execute'), ('expected','expect'), ('extradited','extradite'), ('fined','fine'), ('founded','found'), ('happened','happen'), ('hired','hire'), ('indicted','indict'), ('injured','injure'), ('invaded','invade'), ('jailed','jail'), ('left','leave'), ('marched','march'), ('married','marry'), ('merged','merge'), ('met','meet'), ('nominated','nominate'), ('paid','pay'), ('pardoned','pardon'), ('paroled','parole'), ('perished','perish'), ('planned','plan'), ('protested','protest'), ('reported','report'), ('resigned','resign'), ('retired','retire'), ('returned','return'), ('said','say'), ('sentenced','sentence'), ('sold','sell'), ('sued','sue'), ('testified','testify'), ('toured','tour'), ('traveled','travel'), ('visited','visit'), ('wed','wed'), ('wounded','wound'), ('wrote','write')),
        |tl(lemma, typ) AS (VALUES ('acquire','Transaction:Transfer-Ownership'), ('acquit','Justice:Acquit'), ('appeal','Justice:Appeal'), ('appoint','Personnel:Start-Position'), ('arrest','Justice:Arrest-Jail'), ('arrive','Movement:Transport'), ('attack','Conflict:Attack'), ('bankrupt','Business:Declare-Bankruptcy'), ('bomb','Conflict:Attack'), ('born','Life:Be-Born'), ('buy','Transaction:Transfer-Ownership'), ('call','Contact:Phone-Write'), ('charge','Justice:Charge-Indict'), ('convict','Justice:Convict'), ('deploy','Movement:Transport'), ('die','Life:Die'), ('dissolve','Business:End-Org'), ('divorce','Life:Divorce'), ('donate','Transaction:Transfer-Money'), ('elect','Personnel:Elect'), ('execute','Justice:Execute'), ('extradite','Justice:Extradite'), ('fine','Justice:Fine'), ('found','Business:Start-Org'), ('hire','Personnel:Start-Position'), ('indict','Justice:Charge-Indict'), ('injure','Life:Injure'), ('invade','Conflict:Attack'), ('jail','Justice:Arrest-Jail'), ('launch','Business:Start-Org'), ('march','Conflict:Demonstrate'), ('marry','Life:Marry'), ('meet','Contact:Meet'), ('merge','Business:Merge-Org'), ('nominate','Personnel:Nominate'), ('pardon','Justice:Pardon'), ('parole','Justice:Release-Parole'), ('pay','Transaction:Transfer-Money'), ('perish','Life:Die'), ('protest','Conflict:Demonstrate'), ('resign','Personnel:End-Position'), ('retire','Personnel:End-Position'), ('sell','Transaction:Transfer-Ownership'), ('sentence','Justice:Sentence'), ('sue','Justice:Sue'), ('testify','Justice:Trial-Hearing'), ('tour','Movement:Transport'), ('travel','Movement:Transport'), ('visit','Contact:Meet'), ('wed','Life:Marry'), ('wound','Life:Injure'), ('write','Contact:Phone-Write')),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, len(CAST(rec->'$.tokens' AS VARCHAR[])) AS n FROM recs
        |        WHERE len(CAST(rec->'$.tokens' AS VARCHAR[])) > 0),
        |walk(src, rec_idx, cur, mstart, mend) AS (
        |  SELECT src, rec_idx, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM tok
        |  UNION ALL
        |  SELECT w.src, w.rec_idx,
        |    CASE WHEN m2.w1 IS NOT NULL THEN w.cur + 2 ELSE w.cur + 1 END,
        |    CASE WHEN m2.w1 IS NOT NULL OR m1.w1 IS NOT NULL THEN w.cur ELSE NULL END,
        |    CASE WHEN m2.w1 IS NOT NULL THEN w.cur + 1
        |         WHEN m1.w1 IS NOT NULL THEN w.cur ELSE NULL END
        |  FROM walk w
        |  JOIN tok t ON t.src = w.src AND t.rec_idx = w.rec_idx
        |  LEFT JOIN g2 m2 ON w.cur + 1 <= t.n AND t.tokens[w.cur] = m2.w1 AND t.tokens[w.cur + 1] = m2.w2
        |  LEFT JOIN g1 m1 ON m2.w1 IS NULL AND t.tokens[w.cur] = m1.w1
        |  WHERE w.cur <= t.n),
        |entpos AS (SELECT DISTINCT src, rec_idx, unnest(range(mstart, mend + 1)) AS ip
        |           FROM walk WHERE mstart IS NOT NULL),
        |pos AS (SELECT src, rec_idx, tokens, n, unnest(range(1, n + 1)) AS ip FROM tok),
        |lems AS (SELECT p.src, p.rec_idx, p.ip, p.tokens, p.n, lower(p.tokens[p.ip]) AS lo,
        |  regexp_replace(lower(p.tokens[p.ip]), '''s$', '') AS b0, i.lemma AS irrlemma,
        |  e.ip IS NOT NULL AS is_ent
        |  FROM pos p
        |  LEFT JOIN irr i ON i.surface = lower(p.tokens[p.ip])
        |  LEFT JOIN entpos e ON e.src = p.src AND e.rec_idx = p.rec_idx AND e.ip = p.ip),
        |typed AS (SELECT l.src, l.rec_idx, l.ip, l.tokens, l.n, t.typ
        |  FROM (SELECT src, rec_idx, ip, tokens, n,
        |          COALESCE(irrlemma,
        |            CASE WHEN length(b0)>4 AND b0 LIKE '%ies' THEN substr(b0,1,length(b0)-3)||'y'
        |                 WHEN length(b0)>4 AND b0 LIKE '%ing' THEN substr(b0,1,length(b0)-3)
        |                 WHEN length(b0)>3 AND b0 LIKE '%ed' THEN substr(b0,1,length(b0)-2)
        |                 WHEN length(b0)>3 AND b0 LIKE '%es' THEN substr(b0,1,length(b0)-2)
        |                 WHEN length(b0)>3 AND b0 LIKE '%s' AND NOT b0 LIKE '%ss' THEN substr(b0,1,length(b0)-1)
        |                 ELSE b0 END) AS lemma
        |        FROM lems WHERE NOT is_ent) l
        |  JOIN tl t ON t.lemma = l.lemma),
        |runs AS (SELECT src, rec_idx, ip, tokens, n, typ,
        |  ip - row_number() OVER (PARTITION BY src, rec_idx, typ ORDER BY ip) AS grp
        |  FROM typed),
        |runspan AS (SELECT src, rec_idx, typ, MIN(ip) AS a, MAX(ip) AS b,
        |  any_value(tokens) AS tokens, any_value(n) AS n
        |  FROM runs GROUP BY src, rec_idx, typ, grp),
        |-- bioDecode's B-reset (B2I[B]=B): a same-type B run nets ONE span at its
        |-- LAST token; a run that reaches the final token additionally emits the
        |-- penultimate-start span first (the iob_to_obj end-of-sequence quirk)
        |spans AS (
        |  SELECT src, rec_idx, typ, b AS sp, b AS ep, tokens FROM runspan
        |  UNION ALL
        |  SELECT src, rec_idx, typ, b - 1 AS sp, b AS ep, tokens FROM runspan
        |  WHERE b = n AND b > a)
        |SELECT src, rec_idx, typ AS event_type,
        |  array_to_string(tokens[sp : ep], ' ') AS trig_text,
        |  CAST(sp - 1 AS INTEGER) AS start_tok, CAST(ep - 1 AS INTEGER) AS end_tok
        |FROM spans ORDER BY src, rec_idx, start_tok""".stripMargin,

    // q38: the greedy longest-match gazetteer scan (skip semantics
    // included) simulated as a recursive-CTE cursor walk.
    "q38_gazetteer_ner" -> (gazWalkCtes + "\n" +
      """SELECT src, rec_idx, CAST(mstart - 1 AS INTEGER) AS start_tok,
        |       CAST(mend - 1 AS INTEGER) AS end_tok, mtyp AS label
        |FROM walk WHERE mstart IS NOT NULL
        |ORDER BY src, rec_idx, start_tok""".stripMargin),

    // q48 must equal q38 (the checkpoint-loaded broadcast model vs the
    // compiled-in bootstrap) — the oracle IS q38's gazetteer walk
    "q48_checkpoint_ner" -> (gazWalkCtes + "\n" +
      """SELECT src, rec_idx, CAST(mstart - 1 AS INTEGER) AS start_tok,
        |       CAST(mend - 1 AS INTEGER) AS end_tok, mtyp AS label
        |FROM walk WHERE mstart IS NOT NULL
        |ORDER BY src, rec_idx, start_tok""".stripMargin),

    // q43: strict span(+label) P/R/F1 of the q38 pred spans against the
    // golden `ner` field, per corpus — the three grouped counts and the
    // double arithmetic mirror Eval.spanPRFByKey exactly (int/int `/` is
    // double division in DuckDB; 2.0*p*r/(p+r) is left-associative in
    // both engines).
    "q43_ner_eval" -> (gazWalkCtes + ",\n" +
      """pred AS (SELECT DISTINCT src, rec_idx, mstart - 1 AS start_tok,
        |                mend - 1 AS end_tok, mtyp AS label
        |         FROM walk WHERE mstart IS NOT NULL),
        |g0 AS (SELECT src, rec_idx, rec->'$.ner' AS nr FROM recs),
        |g1i AS (SELECT src, rec_idx, nr,
        |          unnest(range(CAST(COALESCE(json_array_length(nr), 0) AS BIGINT))) AS i
        |        FROM g0),
        |gold AS (SELECT DISTINCT src, rec_idx,
        |           CAST(json_extract_string(nr, '$[' || i || '][0]') AS BIGINT) AS start_tok,
        |           CAST(json_extract_string(nr, '$[' || i || '][1]') AS BIGINT) AS end_tok,
        |           json_extract_string(nr, '$[' || i || '][2]') AS label
        |         FROM g1i),
        |corr AS (SELECT src, count(*) AS n_corr FROM pred p
        |         WHERE EXISTS (SELECT 1 FROM gold g WHERE g.src = p.src
        |           AND g.rec_idx = p.rec_idx AND g.start_tok = p.start_tok
        |           AND g.end_tok = p.end_tok AND g.label = p.label)
        |         GROUP BY src),
        |np AS (SELECT src, count(*) AS n_pred FROM pred GROUP BY src),
        |nt AS (SELECT src, count(*) AS n_true FROM gold GROUP BY src),
        |j AS (SELECT COALESCE(np.src, nt.src) AS src,
        |        COALESCE(n_corr, 0) AS n_corr, COALESCE(n_pred, 0) AS n_pred,
        |        COALESCE(n_true, 0) AS n_true
        |      FROM np FULL OUTER JOIN nt ON np.src = nt.src
        |      LEFT JOIN corr ON COALESCE(np.src, nt.src) = corr.src),
        |pr AS (SELECT src, n_corr, n_pred, n_true,
        |         CASE WHEN n_pred = 0 THEN 0.0 ELSE n_corr / n_pred END AS precision,
        |         CASE WHEN n_true = 0 THEN 0.0 ELSE n_corr / n_true END AS recall
        |       FROM j)
        |SELECT src, n_corr, n_pred, n_true, precision, recall,
        |  CASE WHEN precision + recall = 0 THEN 0.0
        |       ELSE 2.0 * precision * recall / (precision + recall) END AS f1
        |FROM pr ORDER BY src""".stripMargin),

    // q37: sentence segmentation in SQL — every boundary condition is
    // position-independent (lookahead j/k, abbreviation word, decimal
    // guard), so boundaries are a list comprehension and sentences
    // reassemble with a lag window.
    "q37_sentsplit" ->
      """WITH docs AS (SELECT doc_id, text FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |                UNION ALL SELECT * FROM (VALUES
        |   (9000011, 'Dr. Smith arrived at 3.5 p.m. sharp. The meeting began. It ended quickly!'),
        |   (9000012, 'The U.S. Army moved fast. Gen. Brown spoke to Sgt. Reyes. All clear?'),
        |   (9000013, 'Costs rose 3.5 percent. (Not all agreed.) "It works." She said so.'),
        |   (9000014, 'He waited... Then left. Mr. Jones (b. 1970) waved. Versions 2.0 and 3.1 shipped.')) v(doc_id, text))
        |  WHERE text IS NOT NULL AND text <> ''),
        |b0 AS (SELECT doc_id, text, length(text) AS n,
        |  [i for i in range(1, length(text) + 1) if list_contains(['.','!','?'], substr(text, CAST(i AS INTEGER), 1))] AS cand
        |  FROM docs),
        |cands AS (SELECT doc_id, text, n, unnest(cand) AS bi FROM b0),
        |jk AS (SELECT doc_id, text, n, bi,
        |  COALESCE(list_min([j for j in range(bi + 1, n + 1)
        |     if NOT list_contains(['"', '''', ')'], substr(text, CAST(j AS INTEGER), 1))]), n + 1) AS jp
        |  FROM cands),
        |jk2 AS (SELECT doc_id, text, n, bi, jp,
        |  COALESCE(list_min([k for k in range(jp, n + 1)
        |     if NOT regexp_matches(substr(text, CAST(k AS INTEGER), 1), '^\s$')]), n + 1) AS kp
        |  FROM jk),
        |cond AS (SELECT doc_id, text, n, bi, jp, kp,
        |  substr(text, CAST(bi AS INTEGER), 1) AS bc,
        |  (kp > jp OR kp = n + 1) AS boundary_cand,
        |  (kp = n + 1 OR regexp_matches(substr(text, CAST(kp AS INTEGER), 1), '^[\p{Lu}0-9"]$')) AS nextok,
        |  COALESCE(list_max([w for w in range(1, bi) if regexp_matches(substr(text, CAST(w AS INTEGER), 1), '^\s$')]), 0) AS wpos
        |  FROM jk2),
        |cond2 AS (SELECT doc_id, text, n, bi, jp, kp, boundary_cand, nextok, bc,
        |  regexp_replace(regexp_replace(lower(substr(text, CAST(wpos + 1 AS INTEGER), CAST(bi - wpos - 1 AS INTEGER))), '^\(', ''), '^"', '') AS word
        |  FROM cond),
        |bnd AS (SELECT doc_id, text, n, bi, jp, kp FROM cond2
        |  WHERE boundary_cand AND nextok
        |    AND NOT (bc = '.' AND (list_contains(['apr', 'aug', 'capt', 'dec', 'dr', 'e.g', 'etc', 'feb', 'gen', 'gov', 'i.e', 'jan', 'jr', 'jul', 'jun', 'lt', 'mar', 'mr', 'mrs', 'ms', 'nov', 'oct', 'prof', 'sep', 'sept', 'sgt', 'sr', 'st', 'u.k', 'u.n', 'u.s', 'vs'], word)
        |                           OR regexp_matches(word, '^[a-z]$')
        |                           OR regexp_matches(word, '[0-9]$')))
        |    AND NOT (bc = '.' AND bi < n AND regexp_matches(substr(text, CAST(bi + 1 AS INTEGER), 1), '^[0-9]$'))),
        |-- sentence t spans [start_t, j_t): start_0 = 1, start_{t+1} = k_t
        |seq AS (SELECT doc_id, text, n, bi, jp, kp,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY bi) AS rn,
        |  lag(kp) OVER (PARTITION BY doc_id ORDER BY bi) AS prev_k
        |  FROM bnd),
        |pieces AS (SELECT doc_id, rn, trim(substr(text, CAST(COALESCE(prev_k, 1) AS INTEGER), CAST(jp - COALESCE(prev_k, 1) AS INTEGER))) AS s
        |  FROM seq),
        |tails AS (SELECT d.doc_id, COALESCE(mx.mrn, 0) + 1 AS rn,
        |  trim(substr(d.text, CAST(COALESCE(mx.lastk, 1) AS INTEGER))) AS s
        |  FROM docs d LEFT JOIN (SELECT doc_id, MAX(rn) AS mrn, MAX(kp) AS lastk FROM seq GROUP BY doc_id) mx USING (doc_id)),
        |allp AS (SELECT * FROM pieces UNION ALL SELECT * FROM tails),
        |nonempty AS (SELECT doc_id, rn, s, row_number() OVER (PARTITION BY doc_id ORDER BY rn) - 1 AS sent_idx
        |  FROM allp WHERE s <> '')
        |SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, s AS sentence
        |FROM nonempty ORDER BY doc_id, sent_idx""".stripMargin,

    // q36: the full tokenizer rule set in SQL; the iterative
    // trailing-punct strip becomes "largest stop position" over a
    // list comprehension (scanning down from the end, the first stop
    // hit IS the maximal stopping length).
    "q36_tokenize" -> q36TokenizeSql,

    // q49: P2+A2 — documents tokenized (q36's CTEs), every distinct
    // token greedily wordpiece-segmented (step-array longest-match +
    // recursive chain, vocab literals generated from
    // Ontology.WordpieceVocab so SQL and JVM cannot drift), [CLS]-offset
    // alignment as a window cum-sum, and head/average/max pooling per
    // word re-derived value-for-value.
    "q49_wordpiece_pool" -> q49WordpieceSql,

    // q50: A3 — trigger token indices per golden event from the JSON,
    // joined to the wordpiece head values; count + max per event with
    // the no-anchor zeros fallback as a LEFT JOIN + COALESCE.
    "q50_trigger_query" -> q50TriggerQuerySql,

    // q35: headEvidence re-derived in SQL — irregular-lemma VALUES,
    // normLemma CASE chain, lexicon membership, the -ed morphology
    // heuristic, and the A1 mean>0.5 decision.
    "q35_head_evidence" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |irr(surface, lemma) AS (VALUES ('acquired','acquire'), ('acquitted','acquit'), ('announced','announce'), ('appealed','appeal'), ('appointed','appoint'), ('arrested','arrest'), ('arrived','arrive'), ('attacked','attack'), ('began','begin'), ('bombed','bomb'), ('bought','buy'), ('called','call'), ('charged','charge'), ('continued','continue'), ('convicted','convict'), ('decided','decide'), ('deployed','deploy'), ('died','die'), ('dissolved','dissolve'), ('divorced','divorce'), ('donated','donate'), ('elected','elect'), ('ended','end'), ('executed','execute'), ('expected','expect'), ('extradited','extradite'), ('fined','fine'), ('founded','found'), ('happened','happen'), ('hired','hire'), ('indicted','indict'), ('injured','injure'), ('invaded','invade'), ('jailed','jail'), ('left','leave'), ('marched','march'), ('married','marry'), ('merged','merge'), ('met','meet'), ('nominated','nominate'), ('paid','pay'), ('pardoned','pardon'), ('paroled','parole'), ('perished','perish'), ('planned','plan'), ('protested','protest'), ('reported','report'), ('resigned','resign'), ('retired','retire'), ('returned','return'), ('said','say'), ('sentenced','sentence'), ('sold','sell'), ('sued','sue'), ('testified','testify'), ('toured','tour'), ('traveled','travel'), ('visited','visit'), ('wed','wed'), ('wounded','wound'), ('wrote','write')),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens FROM recs
        |        WHERE len(CAST(rec->'$.tokens' AS VARCHAR[])) > 0),
        |pos AS (SELECT src, rec_idx, unnest(range(1, len(tokens) + 1)) AS ip, tokens FROM tok),
        |tr AS (SELECT src, rec_idx, CAST(ip - 1 AS INTEGER) AS tok_idx, lower(tokens[ip]) AS lo FROM pos),
        |base AS (SELECT t.src, t.rec_idx, t.tok_idx, t.lo, i.lemma AS irrlemma,
        |                regexp_replace(t.lo, '''s$', '') AS b0
        |         FROM tr t LEFT JOIN irr i ON i.surface = t.lo),
        |lem AS (SELECT src, rec_idx, tok_idx, lo, irrlemma,
        |  COALESCE(irrlemma,
        |    CASE WHEN length(b0)>4 AND b0 LIKE '%ies' THEN substr(b0,1,length(b0)-3)||'y'
        |         WHEN length(b0)>4 AND b0 LIKE '%ing' THEN substr(b0,1,length(b0)-3)
        |         WHEN length(b0)>3 AND b0 LIKE '%ed' THEN substr(b0,1,length(b0)-2)
        |         WHEN length(b0)>3 AND b0 LIKE '%es' THEN substr(b0,1,length(b0)-2)
        |         WHEN length(b0)>3 AND b0 LIKE '%s' AND NOT b0 LIKE '%ss' THEN substr(b0,1,length(b0)-1)
        |         ELSE b0 END) AS lemma
        |  FROM base),
        |ev AS (SELECT src, rec_idx, tok_idx,
        |  CAST(CASE WHEN list_contains(['acquire', 'acquit', 'announce', 'appeal', 'appoint', 'arrest', 'arrive', 'attack', 'bankrupt', 'begin', 'bomb', 'born', 'buy', 'call', 'charge', 'consider', 'continue', 'convict', 'decide', 'deploy', 'die', 'dissolve', 'divorce', 'donate', 'elect', 'end', 'execute', 'expect', 'extradite', 'fine', 'found', 'happen', 'hire', 'indict', 'injure', 'invade', 'jail', 'launch', 'leave', 'march', 'marry', 'meet', 'merge', 'nominate', 'pardon', 'parole', 'pay', 'perish', 'plan', 'protest', 'report', 'resign', 'retire', 'return', 'say', 'sell', 'sentence', 'sue', 'testify', 'tour', 'travel', 'visit', 'wed', 'wound', 'write'], lemma) THEN 0.9 ELSE 0.1 END AS DOUBLE) AS lexical,
        |  CAST(CASE WHEN irrlemma IS NOT NULL THEN 0.8
        |            WHEN lo LIKE '%ed' AND length(lo) > 4 THEN 0.6
        |            ELSE 0.2 END AS DOUBLE) AS morphological
        |  FROM lem)
        |SELECT src, rec_idx, tok_idx, lexical, morphological,
        |  CASE WHEN (lexical + morphological) / 2 > 0.5 THEN 1 ELSE 0 END AS is_head
        |FROM ev ORDER BY src, rec_idx, tok_idx""".stripMargin,

    // q34: the negation cue labeling (0=affix, 1=cue, 2=multiword part,
    // 3=none; manual 'not' override wins) and first-cue-to-sentence-end
    // scope, re-derived per token in SQL.
    "q34_negation_scope" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens,
        |               [lower(x) for x in CAST(rec->'$.tokens' AS VARCHAR[])] AS low FROM recs
        |        WHERE len(CAST(rec->'$.tokens' AS VARCHAR[])) > 0),
        |pos AS (SELECT src, rec_idx, tokens, low, len(tokens) AS n,
        |               unnest(range(1, len(tokens) + 1)) AS ip FROM tok),
        |lab AS (SELECT src, rec_idx, tokens, n, ip,
        |  CASE WHEN low[ip] = 'not' THEN 1
        |       WHEN len([s for s in range(greatest(1, ip - 2), ip + 1)
        |                 if s + 2 <= n AND ((low[s] = 'by' AND low[s+1] = 'no' AND low[s+2] = 'means')
        |                                 OR (low[s] = 'not' AND low[s+1] = 'at' AND low[s+2] = 'all'))]) > 0 THEN 2
        |       WHEN list_contains(['not','n''t','never','no','without','cannot'], low[ip]) THEN 1
        |       WHEN list_contains(['unable','unlikely','unavailable','unconfirmed','unverified','impossible','improbable','disallowed','disabled','disproved'], low[ip]) THEN 0
        |       ELSE 3 END AS cue
        |  FROM pos),
        |firsts AS (SELECT src, rec_idx, MIN(ip) AS firstp FROM lab WHERE cue <> 3 GROUP BY src, rec_idx)
        |SELECT l.src, l.rec_idx, CAST(l.ip - 1 AS INTEGER) AS tok_idx, l.cue,
        |  CASE WHEN fi.firstp IS NULL THEN 0
        |       WHEN l.ip >= fi.firstp AND NOT list_contains(['.','!','?'], l.tokens[l.ip]) THEN 1
        |       ELSE 0 END AS in_scope
        |FROM lab l LEFT JOIN firsts fi USING (src, rec_idx)
        |ORDER BY src, rec_idx, tok_idx""".stripMargin,

    // q33: the copular-predicate rules (back-scan to the nearest BE-form
    // inside the clause, verbal-root heuristic, clause-end extension,
    // 5-word cap) re-derived in SQL list comprehensions. 1-based list
    // positions throughout; `rootp` = root_idx + 1. (DuckDB identifiers
    // are case-insensitive — a column named `R` beside `r` silently
    // collides, hence the longhand names.)
    "q33_copular_predicates" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, rec FROM recs),
        |heads AS (SELECT DISTINCT src, rec_idx, CAST(tr->>'$.start_token' AS INTEGER) AS root_idx
        |          FROM (SELECT src, rec_idx, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr
        |                FROM (SELECT src, rec_idx, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM tok))),
        |base AS (SELECT h.src, h.rec_idx, h.root_idx, t.tokens, [lower(x) for x in t.tokens] AS low,
        |                len(t.tokens) AS n, h.root_idx + 1 AS rootp
        |         FROM heads h JOIN tok t USING (src, rec_idx)),
        |calc AS (SELECT src, rec_idx, root_idx, tokens, n, rootp, low,
        |  (list_contains(['is','are','was','were','be','been','being','am','''s','''re','''m'], low[rootp])
        |   OR ((low[rootp] LIKE '%ed' OR low[rootp] LIKE '%ing') AND length(low[rootp]) > 4)) AS isv,
        |  COALESCE(list_max([i for i in range(1, rootp) if list_contains([',','.',';','that'], low[i])]), 0) AS dpos
        |  FROM base),
        |calc2 AS (SELECT src, rec_idx, root_idx, tokens, n, rootp, isv,
        |  CASE WHEN isv THEN 0 ELSE
        |    COALESCE(list_max([i for i in range(dpos + 1, rootp) if list_contains(['is','are','was','were','be','been','being','am','''s','''re','''m'], low[i])]), 0)
        |  END AS cop,
        |  COALESCE(list_min([i for i in range(rootp + 1, n + 1) if list_contains([',','.','!','?',';'], tokens[i])]), n + 1) - 1 AS endp
        |  FROM calc),
        |spans AS (SELECT src, rec_idx, root_idx, tokens,
        |  CASE WHEN cop > 0 THEN cop ELSE rootp END AS sp,
        |  CASE WHEN cop > 0 THEN endp ELSE rootp END AS ep
        |  FROM calc2)
        |SELECT src, rec_idx, root_idx, sp - 1 AS span_start, ep - 1 AS span_end,
        |  CASE WHEN ep - sp + 1 > 5
        |       THEN array_to_string(tokens[sp : sp + 4], ' ') || '...'
        |       ELSE array_to_string(tokens[sp : ep], ' ') END AS pred_text
        |FROM spans ORDER BY src, rec_idx, root_idx""".stripMargin,

    // q31: the interval-containment join re-derived as plain SQL.
    "q31_contained_args" ->
      """WITH f AS (SELECT json(content) AS j FROM read_text('/root/reference/component/Duration/Mu_test_data/test_ace.pred.json')),
        |recs AS (SELECT unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx, unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |args AS (SELECT DISTINCT rec_idx, a->>'$.role' AS role,
        |           CAST(a->>'$.start_token' AS INTEGER) AS a_start, CAST(a->>'$.end_token' AS INTEGER) AS a_end
        |         FROM (SELECT rec_idx, unnest(CAST(ev->'$.arguments' AS JSON[])) AS a
        |               FROM (SELECT rec_idx, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM recs))),
        |ents AS (SELECT rec_idx, n->>'$[2]' AS ent_label,
        |           CAST(n->>'$[0]' AS INTEGER) AS n_start, CAST(n->>'$[1]' AS INTEGER) AS n_end
        |         FROM (SELECT rec_idx, unnest(CAST(rec->'$.ner' AS JSON[])) AS n FROM recs)
        |         WHERE json_array_length(n) = 3)
        |SELECT a.rec_idx, a.role, a.a_start, a.a_end, e.ent_label, e.n_start, e.n_end
        |FROM args a JOIN ents e ON a.rec_idx = e.rec_idx AND e.n_start <= a.a_start AND a.a_end <= e.n_end
        |ORDER BY a.rec_idx, a.role, a.a_start, a.a_end, e.ent_label, e.n_start, e.n_end""".stripMargin,

    // q30: every golden span re-derived directly from the JSON with
    // list_slice — the engine side goes through bioEncode -> bioDecode ->
    // spanText instead, so the BIO decode path and the text projection
    // are value-checked against an independent derivation on 832 real
    // reference-annotated sentences.
    // q41: the J1/U1 merge in SQL — perturbed heads, the |Δ| ≤ 2 band,
    // '.'-strip on both sides, nearest-then-lowest-index pick as a
    // window, and the containment anti-join as NOT EXISTS.
    "q41_align_inject" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx,
        |                unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, CAST(rec_idx AS INTEGER) AS ri,
        |               CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, rec FROM recs),
        |trig AS (SELECT DISTINCT src, ri, CAST(tr->>'$.start_token' AS INTEGER) AS start
        |         FROM (SELECT src, ri, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr
        |               FROM (SELECT src, ri, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM tok))),
        |heads0 AS (SELECT g.src, g.ri,
        |                  g.start + ((g.ri + g.start) % 6) - 2 AS tokidx,
        |                  t.tokens[g.start + 1] ||
        |                    (CASE WHEN (g.ri + g.start) % 7 = 0 THEN '.' ELSE '' END) AS tok
        |           FROM trig g JOIN tok t ON t.src = g.src AND t.ri = g.ri),
        |pos AS (SELECT src, ri, CAST(i AS INTEGER) AS b,
        |               tokens[CAST(i AS INTEGER) + 1] AS btok
        |        FROM (SELECT src, ri, tokens,
        |                     unnest(range(CAST(len(tokens) AS BIGINT))) AS i FROM tok)),
        |heads AS (SELECT src, ri, tokidx, min(tok) AS tok
        |          FROM (SELECT src, ri, tokidx, tok FROM heads0
        |                UNION ALL
        |                SELECT src, ri, b, btok FROM pos
        |                WHERE (ri * 31 + b) % 29 = 0)
        |          GROUP BY src, ri, tokidx),
        |cand AS (SELECT h.src, h.ri, h.tokidx, p.b, p.btok,
        |                row_number() OVER (PARTITION BY h.src, h.ri, h.tokidx
        |                                   ORDER BY abs(p.b - h.tokidx), p.b) AS rn
        |         FROM heads h JOIN pos p ON p.src = h.src AND p.ri = h.ri
        |           AND replace(p.btok, '.', '') = replace(h.tok, '.', '')
        |           AND abs(p.b - h.tokidx) <= 2),
        |aligned AS (SELECT src, ri, tokidx, b AS alignedidx, btok FROM cand WHERE rn = 1),
        |inj AS (SELECT DISTINCT a.src, a.ri, a.alignedidx, a.btok FROM aligned a
        |        WHERE NOT EXISTS (SELECT 1 FROM trig t
        |                          WHERE t.src = a.src AND t.ri = a.ri
        |                            AND t.start = a.alignedidx)),
        |keyed AS (SELECT 'align' AS kind,
        |                 'eventplus/Mu_test_data/' || src || '.pred.json#L0:S' || ri AS sent_key,
        |                 tokidx AS idx_in, alignedidx AS idx_out, btok AS tok FROM aligned
        |          UNION ALL
        |          SELECT 'inject',
        |                 'eventplus/Mu_test_data/' || src || '.pred.json#L0:S' || ri,
        |                 alignedidx, alignedidx, btok FROM inj)
        |SELECT kind, sent_key, idx_in, idx_out, tok FROM keyed
        |ORDER BY kind, sent_key, idx_in, idx_out""".stripMargin,

    // q42: the duration + speculation enrichment in SQL — irregular-past
    // + suffix-strip lemma chain, the trigger-duration lexicon as VALUES,
    // blank for unmatched lemmas (J2), and the q34 first-cue scope rule
    // evaluated at the trigger position (P9).
    "q42_duration_speculation" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx,
        |                unnest(json_extract(j,'$[*]')) AS rec FROM f),
        |tok AS (SELECT src, CAST(rec_idx AS INTEGER) AS ri,
        |               CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens,
        |               [lower(x) for x in CAST(rec->'$.tokens' AS VARCHAR[])] AS low, rec FROM recs),
        |trig AS (SELECT src, ri, CAST(tr->>'$.start_token' AS INTEGER) AS start, tr->>'$.text' AS ttext
        |         FROM (SELECT src, ri, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr
        |               FROM (SELECT src, ri, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM tok))),
        |irr(surface, lemma) AS (VALUES ('toured','tour'), ('traveled','travel'), ('deployed','deploy'), ('arrived','arrive'), ('attacked','attack'), ('bombed','bomb'), ('invaded','invade'), ('protested','protest'), ('marched','march'), ('met','meet'), ('visited','visit'), ('called','call'), ('wrote','write'), ('acquitted','acquit'), ('appealed','appeal'), ('arrested','arrest'), ('jailed','jail'), ('indicted','indict'), ('charged','charge'), ('convicted','convict'), ('executed','execute'), ('extradited','extradite'), ('fined','fine'), ('pardoned','pardon'), ('paroled','parole'), ('sentenced','sentence'), ('sued','sue'), ('testified','testify'), ('died','die'), ('perished','perish'), ('divorced','divorce'), ('injured','injure'), ('wounded','wound'), ('married','marry'), ('wed','wed'), ('elected','elect'), ('resigned','resign'), ('retired','retire'), ('nominated','nominate'), ('appointed','appoint'), ('hired','hire'), ('paid','pay'), ('donated','donate'), ('bought','buy'), ('sold','sell'), ('acquired','acquire'), ('founded','found'), ('merged','merge'), ('dissolved','dissolve'), ('said','say'), ('announced','announce'), ('reported','report'), ('began','begin'), ('continued','continue'), ('ended','end'), ('happened','happen'), ('expected','expect'), ('planned','plan'), ('decided','decide'), ('returned','return'), ('left','leave')),
        |durlex(lemma, dur) AS (VALUES ('acquire','weeks'), ('acquit','inst'), ('appeal','months'), ('appoint','inst'), ('arrest','mins'), ('arrive','hours'), ('attack','mins'), ('bankrupt','inst'), ('bomb','secs'), ('born','inst'), ('buy','inst'), ('call','mins'), ('charge','inst'), ('convict','inst'), ('deploy','weeks'), ('die','inst'), ('dissolve','inst'), ('divorce','inst'), ('donate','inst'), ('elect','inst'), ('execute','inst'), ('extradite','days'), ('fine','inst'), ('found','years'), ('hire','inst'), ('indict','inst'), ('injure','inst'), ('invade','weeks'), ('jail','years'), ('launch','months'), ('march','hours'), ('marry','hours'), ('meet','hours'), ('merge','months'), ('nominate','inst'), ('pardon','inst'), ('parole','inst'), ('pay','inst'), ('perish','inst'), ('protest','hours'), ('resign','inst'), ('retire','inst'), ('sell','inst'), ('sentence','inst'), ('sue','months'), ('testify','hours'), ('tour','days'), ('travel','days'), ('visit','days'), ('wed','hours'), ('wound','inst'), ('write','mins')),
        |lem AS (SELECT t.src, t.ri, t.start, t.ttext,
        |  COALESCE(i.lemma, CASE WHEN length(w2)>4 AND w2 LIKE '%ies' THEN substr(w2,1,length(w2)-3)||'y'
        |    WHEN length(w2)>4 AND w2 LIKE '%ing' THEN substr(w2,1,length(w2)-3)
        |    WHEN length(w2)>3 AND w2 LIKE '%ed' THEN substr(w2,1,length(w2)-2)
        |    WHEN length(w2)>3 AND w2 LIKE '%es' THEN substr(w2,1,length(w2)-2)
        |    WHEN length(w2)>3 AND w2 LIKE '%s' AND NOT w2 LIKE '%ss' THEN substr(w2,1,length(w2)-1)
        |    ELSE w2 END) AS lemma
        |  FROM (SELECT src, ri, start, ttext,
        |               lower(list_extract(str_split(ttext, ' '), 1)) AS w1,
        |               regexp_replace(lower(list_extract(str_split(ttext, ' '), 1)), '''s$','') AS w2
        |        FROM trig) t
        |  LEFT JOIN irr i ON i.surface = t.w1),
        |labs AS (SELECT src, ri, ip,
        |  CASE WHEN low[ip] = 'not' THEN 1
        |       WHEN len([s for s in range(greatest(1, ip - 2), ip + 1)
        |                 if s + 2 <= n AND ((low[s] = 'by' AND low[s+1] = 'no' AND low[s+2] = 'means')
        |                                 OR (low[s] = 'not' AND low[s+1] = 'at' AND low[s+2] = 'all'))]) > 0 THEN 2
        |       WHEN list_contains(['not','n''t','never','no','without','cannot'], low[ip]) THEN 1
        |       WHEN list_contains(['unable','unlikely','unavailable','unconfirmed','unverified','impossible','improbable','disallowed','disabled','disproved'], low[ip]) THEN 0
        |       ELSE 3 END AS cue
        |  FROM (SELECT src, ri, tokens, low, len(tokens) AS n,
        |               unnest(range(1, len(tokens) + 1)) AS ip FROM tok)),
        |firsts AS (SELECT src, ri, MIN(ip) AS firstp FROM labs WHERE cue <> 3 GROUP BY src, ri)
        |SELECT 'eventplus/Mu_test_data/' || l.src || '.pred.json#L0:S' || l.ri AS sent_key,
        |       l.start AS trig_start, l.ttext AS trig_text,
        |       COALESCE(d.dur, '') AS duration,
        |       (fi.firstp IS NOT NULL AND l.start + 1 >= fi.firstp
        |        AND NOT list_contains(['.','!','?'], t.tokens[l.start + 1])) AS speculated
        |FROM lem l
        |LEFT JOIN durlex d USING (lemma)
        |LEFT JOIN firsts fi ON fi.src = l.src AND fi.ri = l.ri
        |JOIN tok t ON t.src = l.src AND t.ri = l.ri
        |ORDER BY sent_key, trig_start""".stripMargin,

    // q44 runs at a FIXED corpus size (60 files × 6 sentences — the
    // sf0.001 shape) regardless of the scale directory, so the oracle
    // pins the n60_s6 gold export instead of recovering the size from
    // the lineitem row count the way the kg_* oracles do. graft.Verify
    // exports that TSV unconditionally.
    "q44_resume_kg" ->
      ("WITH gold AS (SELECT * FROM read_csv('/tmp/graft_gold/*/gold_triples.tsv', " +
        "delim='\\t', header=true, all_varchar=true, filename=true) " +
        "WHERE filename LIKE '%/n60_s6/%') " +
        "SELECT DISTINCT subj, pred, obj FROM gold ORDER BY subj, pred, obj"),

    // kg_bgp: the identical conjunction as SQL self-joins over the gold
    // triple set (bag semantics over a set store on both sides — join
    // multiplicity must agree row-for-row)
    "kg_bgp" ->
      (goldCte +
        """SELECT b.subj AS e1, t1.obj AS t1, b.obj AS e2, t2.obj AS t2
          |FROM gold b
          |JOIN gold t1 ON t1.subj = b.subj AND t1.pred = 'hasType'
          |JOIN gold t2 ON t2.subj = b.obj AND t2.pred = 'hasType'
          |WHERE b.pred = 'BEFORE'
          |ORDER BY e1, e2""".stripMargin),

    // kg_bgp_optional: NOT EXISTS + LEFT JOIN in SQL over the gold set —
    // the same algebra the engine compiles to anti/outer joins
    "kg_bgp_optional" ->
      (goldCte +
        """SELECT t.subj AS e, t.obj AS t, p.obj AS loc
          |FROM gold t
          |LEFT JOIN gold p ON p.subj = t.subj AND p.pred = 'Place'
          |WHERE t.pred = 'hasType'
          |  AND NOT EXISTS (SELECT 1 FROM gold s
          |                  WHERE s.subj = t.subj AND s.pred = 'speculated')
          |ORDER BY e, loc NULLS FIRST""".stripMargin),

    // kg_ntriples: the same serialization re-derived with DuckDB string
    // functions (single-quoted SQL strings treat backslash literally, so
    // '\' is one backslash and '\\' two; chr() for the control chars)
    "kg_ntriples" ->
      (goldCte +
        """SELECT '<urn:g:' || replace(subj, ' ', '%20') || '> <urn:g:' ||
          |  replace(pred, ' ', '%20') || '> "' ||
          |  replace(replace(replace(replace(replace(obj,
          |    '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'),
          |    chr(9), '\t') || '" .' AS ntriple
          |FROM gold ORDER BY ntriple""".stripMargin),

    // kg_provenance: the sha256 lineage invariant — the gold TSV's
    // (repo, path, contentsha) columns come from GoldDeriver's own
    // derivation over Synth's deterministic content (plain Scala, no
    // pipeline stages; the hash itself is the shared pure Text.sha256 —
    // SHA-256 is SHA-256), so the engine's stamped lineage must match
    // byte-for-byte per file.
    "kg_provenance" ->
      (goldCte +
        "SELECT repo, path, contentsha AS content_sha, " +
        "count(*) AS n_triples FROM gold GROUP BY 1, 2, 3 " +
        "ORDER BY repo, path"),

    // kg_pagerank: the identical 5-round power iteration unrolled as
    // chained CTEs over the gold set — same canonical lift as the
    // closure oracle, same double arithmetic ((1.0-0.85)/N base, 0.85 *
    // SUM(r/deg) inflow; every literal cast ::DOUBLE so DuckDB's DECIMAL
    // literals never enter), same floor(r*1e9 + 0.5) integerization.
    // Summation order may differ between engines; fp noise is ~1e-10 of
    // a ppb unit, absorbed by the integerization.
    "kg_pagerank" ->
      (goldCte +
        """, canon AS (SELECT subj AS ev, obj AS canon FROM gold WHERE pred = 'sameAs'),
          |raw AS (SELECT subj AS s, obj AS o FROM gold WHERE pred = 'BEFORE'
          |        UNION SELECT obj, subj FROM gold WHERE pred = 'AFTER'),
          |e AS (SELECT DISTINCT coalesce(cs.canon, r.s) AS s, coalesce(co.canon, r.o) AS o
          |      FROM raw r LEFT JOIN canon cs ON r.s = cs.ev
          |                 LEFT JOIN canon co ON r.o = co.ev),
          |nodes AS (SELECT s AS v FROM e UNION SELECT o FROM e),
          |cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
          |od AS (SELECT s AS v, count(*)::BIGINT AS deg FROM e GROUP BY s),
          |r0 AS (SELECT v, 1.0::DOUBLE / cnt.n AS r FROM nodes, cnt)""".stripMargin +
        (1 to 5).map { k =>
          s""",
             |r$k AS (SELECT n.v,
             |  (1.0::DOUBLE - 0.85::DOUBLE) / cnt.n
             |    + 0.85::DOUBLE * coalesce(f.acc, 0.0::DOUBLE) AS r
             |  FROM nodes n CROSS JOIN cnt
             |  LEFT JOIN (SELECT e.o AS v, SUM(p.r / od.deg) AS acc
             |             FROM e JOIN r${k - 1} p ON p.v = e.s
             |                    JOIN od ON od.v = e.s
             |             GROUP BY e.o) f ON f.v = n.v)""".stripMargin
        }.mkString +
        """
          |SELECT v AS node,
          |  CAST(floor(r * 1e9 + 0.5::DOUBLE) AS BIGINT) AS rank_ppb
          |FROM r5 ORDER BY node""".stripMargin),

    // kg_labelprop: same lifted-edge derivation as kg_pagerank, then the
    // 3-round min-label recurrence unrolled (l0..l3) — min on VARCHAR is
    // binary-lexicographic in both engines, and the node ids are ASCII.
    "kg_labelprop" ->
      (goldCte +
        """, canon AS (SELECT subj AS ev, obj AS canon FROM gold WHERE pred = 'sameAs'),
          |raw AS (SELECT subj AS s, obj AS o FROM gold WHERE pred = 'BEFORE'
          |        UNION SELECT obj, subj FROM gold WHERE pred = 'AFTER'),
          |e AS (SELECT DISTINCT coalesce(cs.canon, r.s) AS s, coalesce(co.canon, r.o) AS o
          |      FROM raw r LEFT JOIN canon cs ON r.s = cs.ev
          |                 LEFT JOIN canon co ON r.o = co.ev),
          |sym AS (SELECT s, o FROM e UNION SELECT o, s FROM e),
          |nodes AS (SELECT DISTINCT s AS v FROM sym),
          |l0 AS (SELECT v, v AS l FROM nodes)""".stripMargin +
        (1 to 3).map { k =>
          s""",
             |l$k AS (SELECT v, min(l) AS l FROM (
             |  SELECT v, l FROM l${k - 1}
             |  UNION ALL
             |  SELECT sym.o AS v, p.l FROM sym JOIN l${k - 1} p ON p.v = sym.s)
             |  GROUP BY v)""".stripMargin
        }.mkString +
        """
          |SELECT v AS node, l AS community FROM l3 ORDER BY node""".stripMargin),

    // kg_degree_dist: per-term out/in counts over the full gold set,
    // full-outer merged, histogrammed — all-integer.
    "kg_degree_dist" ->
      (goldCte +
        """, od AS (SELECT subj AS node, count(*)::BIGINT AS out_deg FROM gold GROUP BY 1),
          |ind AS (SELECT obj AS node, count(*)::BIGINT AS in_deg FROM gold GROUP BY 1),
          |nd AS (SELECT COALESCE(od.node, ind.node) AS node,
          |         COALESCE(od.out_deg, 0) + COALESCE(ind.in_deg, 0) AS degree
          |       FROM od FULL JOIN ind ON od.node = ind.node)
          |SELECT degree::BIGINT AS degree, count(*)::BIGINT AS n_nodes
          |FROM nd GROUP BY 1 ORDER BY degree""".stripMargin),

    // kg_triangles: the identical degree-oriented enumeration over the
    // gold set — same lift, same (deg, id) total order (VARCHAR `<` is
    // binary-lexicographic in both engines on these ASCII ids), same
    // wedge-then-closing-edge join; each triangle counted once per
    // member node. All-integer.
    "kg_triangles" ->
      (goldCte + liftedUndirectedCte +
        """, dg AS (SELECT s AS v, count(*)::BIGINT AS deg FROM und GROUP BY 1),
          |ori AS (SELECT u.s AS a, u.o AS b FROM und u
          |        JOIN dg ds ON ds.v = u.s JOIN dg dd ON dd.v = u.o
          |        WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.s < u.o)),
          |w AS (SELECT e1.a, e1.b AS x, e2.b AS y
          |      FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b <> e2.b),
          |t AS (SELECT w.a, w.x, w.y FROM w
          |      JOIN ori cl ON cl.a = w.x AND cl.b = w.y),
          |m AS (SELECT a AS node FROM t
          |      UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t)
          |SELECT node, count(*)::BIGINT AS n_tri
          |FROM m GROUP BY node ORDER BY node""".stripMargin),

    // kg_kcore: the 3-round k=6 peel unrolled exactly (the labelprop
    // convention for bounded-round recurrences) — per round, degrees
    // over the surviving edge set, then both endpoints filtered to
    // deg >= 6. All-integer.
    "kg_kcore" ->
      (goldCte + liftedUndirectedCte +
        (1 to 3).map { r =>
          val prev = if (r == 1) "und" else s"u${r - 1}"
          s""",
             |d$r AS (SELECT s AS v, count(*)::BIGINT AS deg FROM $prev GROUP BY 1),
             |k$r AS (SELECT v FROM d$r WHERE deg >= 6),
             |u$r AS (SELECT s, o FROM $prev
             |        WHERE s IN (SELECT v FROM k$r) AND o IN (SELECT v FROM k$r))""".stripMargin
        }.mkString +
        """
          |SELECT s AS node, count(*)::BIGINT AS deg
          |FROM u3 GROUP BY 1 ORDER BY node""".stripMargin),

    // kg_edge_jaccard: the same oriented triangle enumeration as
    // kg_triangles, each triangle re-attributed to its three
    // least/greatest-normalized edges; common-neighbor count left-joined
    // onto the s<o edge list (triangle-free edges → 0), union by
    // inclusion-exclusion over und-degrees, ⌊100·common/u⌋ via DuckDB's
    // integral `//` (Spark side uses integral div()). All-integer.
    "kg_edge_jaccard" ->
      (goldCte + liftedUndirectedCte +
        """, dg AS (SELECT s AS v, count(*)::BIGINT AS deg FROM und GROUP BY 1),
          |ori AS (SELECT u.s AS a, u.o AS b FROM und u
          |        JOIN dg ds ON ds.v = u.s JOIN dg dd ON dd.v = u.o
          |        WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.s < u.o)),
          |w AS (SELECT e1.a, e1.b AS x, e2.b AS y
          |      FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b <> e2.b),
          |t AS (SELECT w.a, w.x, w.y FROM w
          |      JOIN ori cl ON cl.a = w.x AND cl.b = w.y),
          |te AS (SELECT least(a, x) AS s, greatest(a, x) AS o FROM t
          |       UNION ALL SELECT least(a, y), greatest(a, y) FROM t
          |       UNION ALL SELECT least(x, y), greatest(x, y) FROM t),
          |sup AS (SELECT s, o, count(*)::BIGINT AS common FROM te GROUP BY 1, 2)
          |SELECT e.s, e.o, coalesce(sup.common, 0)::BIGINT AS common,
          |       (ds.deg + dd.deg - coalesce(sup.common, 0))::BIGINT AS u,
          |       ((100 * coalesce(sup.common, 0)) //
          |        (ds.deg + dd.deg - coalesce(sup.common, 0)))::BIGINT AS jaccard_pct
          |FROM e LEFT JOIN sup ON sup.s = e.s AND sup.o = e.o
          |JOIN dg ds ON ds.v = e.s JOIN dg dd ON dd.v = e.o
          |ORDER BY 1, 2""".stripMargin),

    // kg_truss: the 2-round k=7 peel unrolled exactly (the kg_kcore
    // convention) — per round, the SAME oriented triangle enumeration
    // as kg_triangles/kg_edge_jaccard over the surviving edge set,
    // support re-attributed to normalized edges, edges below support 5
    // dropped; one final enumeration reports the survivors' residual
    // support. All-integer.
    "kg_truss" -> {
      // every truss CTE is MATERIALIZED: each enumeration level is
      // referenced 3+ times by the next, and without the hint DuckDB
      // re-inlines the whole upstream chain per reference —
      // exponential re-evaluation (hundreds of re-opens of the gold
      // scan) across the three unrolled enumerations. Materializing at
      // each reuse boundary makes the oracle evaluate each level once,
      // the same shape the Spark side gets from localCheckpoint.
      def enum(tag: String, prev: String): String =
        s""",
           |dg$tag AS MATERIALIZED (SELECT s AS v, count(*)::BIGINT AS deg FROM $prev GROUP BY 1),
           |ori$tag AS MATERIALIZED (SELECT u.s AS a, u.o AS b FROM $prev u
           |        JOIN dg$tag ds ON ds.v = u.s JOIN dg$tag dd ON dd.v = u.o
           |        WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.s < u.o)),
           |w$tag AS MATERIALIZED (SELECT e1.a, e1.b AS x, e2.b AS y
           |      FROM ori$tag e1 JOIN ori$tag e2 ON e1.a = e2.a AND e1.b <> e2.b),
           |t$tag AS MATERIALIZED (SELECT w.a, w.x, w.y FROM w$tag w
           |      JOIN ori$tag cl ON cl.a = w.x AND cl.b = w.y),
           |te$tag AS MATERIALIZED (SELECT least(a, x) AS s, greatest(a, x) AS o FROM t$tag
           |       UNION ALL SELECT least(a, y), greatest(a, y) FROM t$tag
           |       UNION ALL SELECT least(x, y), greatest(x, y) FROM t$tag),
           |sup$tag AS MATERIALIZED (SELECT s, o, count(*)::BIGINT AS support FROM te$tag GROUP BY 1, 2)""".stripMargin
      goldCte + liftedUndirectedCte +
        (1 to 2).map { r =>
          val prev = if (r == 1) "und" else s"u${r - 1}"
          enum(r.toString, prev) +
            s""",
               |keep$r AS MATERIALIZED (SELECT ne.s, ne.o FROM (SELECT s, o FROM $prev WHERE s < o) ne
               |        LEFT JOIN sup$r ON sup$r.s = ne.s AND sup$r.o = ne.o
               |        WHERE coalesce(sup$r.support, 0) >= 5),
               |u$r AS MATERIALIZED (SELECT s, o FROM keep$r UNION ALL SELECT o, s FROM keep$r)""".stripMargin
        }.mkString +
        enum("f", "u2") +
        """
          |SELECT ne.s, ne.o, coalesce(supf.support, 0)::BIGINT AS support
          |FROM (SELECT s, o FROM u2 WHERE s < o) ne
          |LEFT JOIN supf ON supf.s = ne.s AND supf.o = ne.o
          |ORDER BY 1, 2""".stripMargin
    },

    // q58: every integrity check re-derived in SQL over gold ∪ the same
    // planted violations; vocab literals mirror Ontology (DurationClasses,
    // EntTypes, TempRel labels minus VAGUE/NONE).
    "q58_integrity_audit" ->
      (goldCte +
        """, planted(subj, pred, obj) AS (VALUES
          |  ('r9/p9#L1:S0:T1', 'BEFORE', 'r9/p9#L2:S0:T3'),
          |  ('r9/p9#L1:S0:T1', 'hasDuration', 'centuries'),
          |  ('r9/p9#L1:S0:T1', 'speculated', 'maybe'),
          |  ('x1', 'sameAs', 'x2'), ('x2', 'sameAs', 'x3'),
          |  ('r9/p9', 'hasEntity', 'ALIEN:zork')),
          |all_t AS (SELECT subj, pred, obj FROM gold
          |          UNION ALL SELECT subj, pred, obj FROM planted),
          |v AS (
          |  SELECT 'rel_cross_sentence' AS violation, subj, pred, obj FROM all_t
          |  WHERE pred IN ('BEFORE','AFTER','SIMULTANEOUS','INCLUDES','IS_INCLUDED')
          |    AND regexp_replace(subj, ':T\d+$', '') <> regexp_replace(obj, ':T\d+$', '')
          |  UNION ALL
          |  SELECT 'bad_duration_class', subj, pred, obj FROM all_t
          |  WHERE pred = 'hasDuration' AND obj NOT IN
          |    ('inst','secs','mins','hours','days','weeks','months','years','decades','cents','forever')
          |  UNION ALL
          |  SELECT 'bad_speculation_flag', subj, pred, obj FROM all_t
          |  WHERE pred = 'speculated' AND obj <> 'true'
          |  UNION ALL
          |  SELECT 'sameas_not_flattened', t.subj, t.pred, t.obj FROM all_t t
          |  WHERE t.pred = 'sameAs'
          |    AND t.obj IN (SELECT subj FROM all_t WHERE pred = 'sameAs')
          |  UNION ALL
          |  SELECT 'bad_entity_label', subj, pred, obj FROM all_t
          |  WHERE pred = 'hasEntity' AND split_part(obj, ':', 1) NOT IN
          |    ('ORG','WEA','VEH','GPE','LOC','FAC','PER'))
          |SELECT violation, subj, pred, obj FROM v
          |ORDER BY violation, subj, pred, obj""".stripMargin),

    // q47: the gold-side timeline fit (GoldDeriver.goldTimelines — the
    // independent mirror of the reference-loss Adam optimizer, run over
    // the gold triple set, pre-rounded to 4 decimals) exported beside the
    // triple TSV; sf picked from the lineitem row count like the kg_*
    // oracles
    "q47_timeline_fit" ->
      ("WITH gold AS (SELECT * FROM read_csv('/tmp/graft_gold/*/gold_timelines.tsv', " +
        "delim='\\t', header=true, all_varchar=true, filename=true) " +
        "WHERE filename LIKE '%/n' || (SELECT CASE count(*) " +
        "WHEN 6000 THEN '60_s6' WHEN 60000 THEN '600_s6' " +
        "WHEN 600000 THEN '6000_s8' ELSE 'unknown' END FROM lineitem) || '/%') " +
        "SELECT doc, event, CAST(start_pt AS DOUBLE) AS start_pt, " +
        "CAST(duration AS DOUBLE) AS duration FROM gold ORDER BY doc, event"),

    "q30_golden_spans" ->
      """WITH f AS (SELECT regexp_extract(filename, '([a-z_]+)\.pred\.json', 1) AS src, json(content) AS j
        |           FROM read_text(['/root/reference/component/Duration/Mu_test_data/test_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/test_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_ace.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/dev_tbd.pred.json',
        |                           '/root/reference/component/Duration/Mu_test_data/train_tbd.pred.json'])),
        |recs AS (SELECT src, unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx,
        |                unnest(json_extract(j, '$[*]')) AS rec FROM f),
        |tok AS (SELECT src, rec_idx, CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens, rec FROM recs),
        |nerrows AS (SELECT src, rec_idx, tokens, unnest(CAST(rec->'$.ner' AS JSON[])) AS n FROM tok),
        |ner AS (SELECT src, rec_idx, 'ner' AS kind, n->>'$[2]' AS label,
        |        CAST(n->>'$[0]' AS INTEGER) AS start_tok, CAST(n->>'$[1]' AS INTEGER) AS end_tok,
        |        array_to_string(tokens[CAST(n->>'$[0]' AS INTEGER)+1 : CAST(n->>'$[1]' AS INTEGER)+1], ' ') AS span_text
        |        FROM nerrows),
        |evrows AS (SELECT src, rec_idx, tokens, unnest(CAST(rec->'$.events' AS JSON[])) AS ev FROM tok),
        |trigrows AS (SELECT src, rec_idx, tokens, unnest(CAST(ev->'$.triggers' AS JSON[])) AS tr FROM evrows),
        |trig AS (SELECT src, rec_idx, 'trigger' AS kind, tr->>'$.event_type' AS label,
        |        CAST(tr->>'$.start_token' AS INTEGER) AS start_tok, CAST(tr->>'$.end_token' AS INTEGER) AS end_tok,
        |        array_to_string(tokens[CAST(tr->>'$.start_token' AS INTEGER)+1 : CAST(tr->>'$.end_token' AS INTEGER)+1], ' ') AS span_text
        |        FROM trigrows),
        |argrows AS (SELECT src, rec_idx, tokens, unnest(CAST(ev->'$.arguments' AS JSON[])) AS a FROM evrows),
        |args AS (SELECT src, rec_idx, 'argument' AS kind, a->>'$.role' AS label,
        |        CAST(a->>'$.start_token' AS INTEGER) AS start_tok, CAST(a->>'$.end_token' AS INTEGER) AS end_tok,
        |        array_to_string(tokens[CAST(a->>'$.start_token' AS INTEGER)+1 : CAST(a->>'$.end_token' AS INTEGER)+1], ' ') AS span_text
        |        FROM argrows)
        |SELECT src, rec_idx, kind, label, start_tok, end_tok, span_text
        |FROM (SELECT * FROM ner UNION ALL SELECT * FROM trig UNION ALL SELECT * FROM args)
        |ORDER BY src, rec_idx, kind, start_tok, end_tok, label""".stripMargin,

    // kg_from_annotations: full SQL re-derivation of the KG relational
    // back half over the reference golden snapshot — JSON explode, P5
    // assembly, A6 canonicalization (blocking + containment edges +
    // recursive-CTE connected components + longest-form canonical), J5
    // rewrite, sameAs blocking. The irregular-lemma VALUES list mirrors
    // Ontology.SurfaceToLemma; the suffix CASE chains mirror
    // Text.normLemma.
    "kg_from_annotations" ->
      """WITH RECURSIVE
        |irr(surface, lemma) AS (VALUES ('toured','tour'), ('traveled','travel'), ('deployed','deploy'), ('arrived','arrive'), ('attacked','attack'), ('bombed','bomb'), ('invaded','invade'), ('protested','protest'), ('marched','march'), ('met','meet'), ('visited','visit'), ('called','call'), ('wrote','write'), ('acquitted','acquit'), ('appealed','appeal'), ('arrested','arrest'), ('jailed','jail'), ('indicted','indict'), ('charged','charge'), ('convicted','convict'), ('executed','execute'), ('extradited','extradite'), ('fined','fine'), ('pardoned','pardon'), ('paroled','parole'), ('sentenced','sentence'), ('sued','sue'), ('testified','testify'), ('died','die'), ('perished','perish'), ('divorced','divorce'), ('injured','injure'), ('wounded','wound'), ('married','marry'), ('wed','wed'), ('elected','elect'), ('resigned','resign'), ('retired','retire'), ('nominated','nominate'), ('appointed','appoint'), ('hired','hire'), ('paid','pay'), ('donated','donate'), ('bought','buy'), ('sold','sell'), ('acquired','acquire'), ('founded','found'), ('merged','merge'), ('dissolved','dissolve'), ('said','say'), ('announced','announce'), ('reported','report'), ('began','begin'), ('continued','continue'), ('ended','end'), ('happened','happen'), ('expected','expect'), ('planned','plan'), ('decided','decide'), ('returned','return'), ('left','leave')),
        |f AS (SELECT json(content) AS j FROM read_text('/root/reference/component/Duration/Mu_test_data/test_ace.pred.json')),
        |recs AS (SELECT unnest(range(CAST(json_array_length(j) AS BIGINT))) AS rec_idx,
        |                unnest(json_extract(j, '$[*]')) AS rec FROM f),
        |sk AS (SELECT rec_idx,
        |         'eventplus/Mu_test_data/test_ace.pred.json#L0:S' || rec_idx AS sentKey,
        |         CAST(rec->'$.tokens' AS VARCHAR[]) AS tokens,
        |         rec->'$.events' AS events, rec->'$.ner' AS ner FROM recs),
        |ev0 AS (SELECT sentKey, unnest(CAST(events AS JSON[])) AS ev FROM sk),
        |etr AS (SELECT sentKey,
        |         sentKey || ':T' || CAST(trig->>'$.start_token' AS BIGINT) AS eventId,
        |         COALESCE(ev->>'$.event_type','') AS etype,
        |         lower(COALESCE(trig->>'$.text','')) AS lt,
        |         ev
        |        FROM (SELECT sentKey, ev, unnest(CAST(ev->'$.triggers' AS JSON[])) AS trig FROM ev0)),
        |hasType AS (SELECT eventId AS subj, 'hasType' AS pred, etype AS obj FROM etr WHERE etype <> ''),
        |ners AS (SELECT sentKey, tokens, unnest(CAST(ner AS JSON[])) AS n FROM sk),
        |hasEnt AS (SELECT 'eventplus/Mu_test_data/test_ace.pred.json' AS subj, 'hasEntity' AS pred,
        |   (n->>'$[2]') || ':' ||
        |   array_to_string(tokens[CAST(n->>'$[0]' AS INT)+1 : CAST(n->>'$[1]' AS INT)+1], ' ') AS obj
        |   FROM ners),
        |argm AS (SELECT eventId, COALESCE(a->>'$.role','') AS role, COALESCE(a->>'$.text','') AS atext
        |         FROM (SELECT eventId, unnest(CAST(ev->'$.arguments' AS JSON[])) AS a FROM etr)),
        |forms AS (SELECT DISTINCT atext AS text FROM argm),
        |fb AS (SELECT text, (CASE WHEN length(last0)>4 AND last0 LIKE '%ies' THEN substr(last0,1,length(last0)-3)||'y'
        |     WHEN length(last0)>4 AND last0 LIKE '%ing' THEN substr(last0,1,length(last0)-3)
        |     WHEN length(last0)>3 AND last0 LIKE '%ed' THEN substr(last0,1,length(last0)-2)
        |     WHEN length(last0)>3 AND last0 LIKE '%es' THEN substr(last0,1,length(last0)-2)
        |     WHEN length(last0)>3 AND last0 LIKE '%s' AND NOT last0 LIKE '%ss' THEN substr(last0,1,length(last0)-1)
        |     ELSE last0 END) AS block FROM
        |        (SELECT text, regexp_replace(lower(list_extract(str_split(text,' '), len(str_split(text,' ')))), '''s$','') AS last0 FROM forms)),
        |prs AS (SELECT a.text AS ta, b.text AS tb
        |  FROM fb a JOIN fb b ON a.block = b.block AND a.text < b.text
        |  WHERE len(list_filter(list_distinct(str_split(a.text,' ')), x -> list_contains(str_split(b.text,' '), x)))
        |        = least(len(str_split(a.text,' ')), len(str_split(b.text,' ')))),
        |edges2 AS (SELECT ta AS src, tb AS dst FROM prs UNION ALL SELECT tb, ta FROM prs),
        |reach(vid, lbl) AS (
        |  SELECT text, text FROM forms
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges2 e ON e.src = r.vid),
        |comp AS (SELECT vid, min(lbl) AS comp FROM reach GROUP BY vid),
        |canon AS (SELECT comp, text AS canonical FROM (
        |  SELECT f2.text, c.comp,
        |    row_number() OVER (PARTITION BY c.comp ORDER BY length(f2.text) DESC, f2.text) AS rn
        |  FROM forms f2 JOIN comp c ON c.vid = f2.text) WHERE rn = 1),
        |cmap AS (SELECT c.vid AS text, cn.canonical FROM comp c JOIN canon cn USING (comp)),
        |argT AS (SELECT m.eventId AS subj, m.role AS pred, cm.canonical AS obj
        |  FROM argm m JOIN cmap cm ON cm.text = m.atext),
        |tevl AS (SELECT eventId, etype,
        |    COALESCE(i.lemma, (CASE WHEN length(lt2)>4 AND lt2 LIKE '%ies' THEN substr(lt2,1,length(lt2)-3)||'y'
        |     WHEN length(lt2)>4 AND lt2 LIKE '%ing' THEN substr(lt2,1,length(lt2)-3)
        |     WHEN length(lt2)>3 AND lt2 LIKE '%ed' THEN substr(lt2,1,length(lt2)-2)
        |     WHEN length(lt2)>3 AND lt2 LIKE '%es' THEN substr(lt2,1,length(lt2)-2)
        |     WHEN length(lt2)>3 AND lt2 LIKE '%s' AND NOT lt2 LIKE '%ss' THEN substr(lt2,1,length(lt2)-1)
        |     ELSE lt2 END)) AS lemma
        |  FROM (SELECT eventId, etype, lt, regexp_replace(lt, '''s$','') AS lt2 FROM etr WHERE etype <> '') t
        |  LEFT JOIN irr i ON i.surface = t.lt),
        |sameCanon AS (SELECT lemma, etype, min(eventId) AS canonicalId FROM tevl GROUP BY 1,2),
        |sameAs AS (SELECT t.eventId AS subj, 'sameAs' AS pred, s.canonicalId AS obj
        |  FROM tevl t JOIN sameCanon s USING (lemma, etype) WHERE t.eventId <> s.canonicalId)
        |SELECT subj, pred, obj FROM (
        |  SELECT * FROM hasType UNION ALL SELECT * FROM argT
        |  UNION ALL SELECT * FROM hasEnt UNION ALL SELECT * FROM sameAs)
        |ORDER BY subj, pred, obj""".stripMargin,
    // q55: the K3 batch plan re-derived with SQL window functions — the
    // ws-token length of Pipeline.wsTokens, the same grouping (doc_id %
    // 16), rank by len desc / doc_id asc, batches of 8, pad_waste =
    // n*max-sum.
    "q55_batch_plan" ->
      """WITH lens AS (SELECT doc_id % 16 AS grp,
        |    CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |         ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS BIGINT) AS len,
        |    doc_id AS ord
        |  FROM documents),
        |ranked AS (SELECT grp, len,
        |    CAST(FLOOR((row_number() OVER (PARTITION BY grp ORDER BY len DESC, ord ASC) - 1) / 8.0) AS BIGINT) AS batch_id
        |  FROM lens)
        |SELECT grp, batch_id, COUNT(*) AS n_rows,
        |  MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS sum_len,
        |  CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS pad_waste
        |FROM ranked GROUP BY grp, batch_id ORDER BY grp, batch_id""".stripMargin
  )
}
