package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

import graft.model._
import graft.tag.{Ontology, Taggers}
import graft.text.Text

/** The staged KG-construction dataflow (SURVEY.md §3.2): scan → sentence
  * explode → tagging stages → relation stages → enrichment → linking →
  * triple materialization. Each stage is a declarative Dataset transform;
  * the heavyweight per-sentence logic runs in `mapPartitions`-style typed
  * maps over broadcast lexicons (the reference loads its checkpoints once
  * per process, EventPipeline.py:635-665 — here the lexicons are literal
  * objects shipped in the closure, the moral equivalent of a broadcast of
  * model parameters).
  *
  * The front end is defined once, per file and per sentence:
  * [[fileSentences]] (sha256, natural text, sentence split, tokens) and
  * [[tagSentence]] (NER, triggers, negation cue and scope). The in-memory
  * build ([[annotate]], via [[tagStage]]) and the committed build
  * ([[runCheckpointed]], via [[extract]] and [[annotatedStage]]) both call
  * them.
  *
  * Every annotate step (A1 heads, J4 pairs, J1 alignment, P7/J3 endpoint
  * mapping, U1 injection, J2 durations, P9 speculation) reads only one
  * sentence — the reference annotates sentence by sentence,
  * project/APIs/main.py:23-242. The pipeline therefore runs them as one
  * pure per-sentence kernel, [[annotateSentence]]: in memory inside two
  * narrow flatMaps over the tagged frame ([[annotateFrom]]), committed in
  * the same mapPartitions as the tagger ([[annotatedStage]]). No join, no
  * shuffle, no cache. The relational operators below (`headsNarrow`,
  * `relationCandidates`, `scoreRelations`, `filterRelations`,
  * `alignHeads`, `mapRelationEndpoints`, `injectTempRelOnlyEvents`,
  * `durations`, `enrich`) are the same steps as `sentKey`-keyed frame
  * transforms: the golden-stage queries and the traced benchmark build
  * compose them, and OperatorSpec pins the kernel to their composition.
  */
object Pipeline {

  /** Per-(sentence,event) expanded row — output of X1 event expansion. */
  case class EventRow(
      repo: String,
      path: String,
      contentSha: String,
      lineNum: Int,
      senNum: Int,
      sentKey: String,
      eventId: String,
      eventType: String,
      trigText: String,
      trigLemma: String,
      trigStart: Int,
      trigEnd: Int,
      args: Seq[Argument])

  case class TaggedSentence(
      repo: String,
      path: String,
      contentSha: String,
      lineNum: Int,
      senNum: Int,
      sentKey: String,
      tokens: Seq[String],
      ner: Seq[NerSpan],
      triggers: Seq[Trigger],
      negationCue: Seq[Int],
      negationScope: Seq[Int])

  def sentKeyOf(repo: String, path: String, line: Int, sen: Int): String =
    s"$repo/$path#L$line:S$sen"

  def eventIdOf(sentKey: String, trigStart: Int): String =
    s"$sentKey:T$trigStart"

  // ---- stage 1: scan + sentence segmentation + tokenization ----

  /** S1 + P1 for one file: content sha256, natural-language lines,
    * sentence split, tokens — each sentence tokenized ONCE (the reference
    * re-tokenizes per component and fuzz-joins, SURVEY.md J1; we share). */
  def fileSentences(repo: String, path: String, lang: String,
      content: String): Seq[Sentence] = {
    val sha = Text.sha256(content)
    Text.naturalText(lang, content).flatMap { case (lineNum, text) =>
      Text.sentSplit(text).zipWithIndex.map { case (sent, senNum) =>
        Sentence(repo, path, sha, lineNum, senNum, sent, Text.tokenize(sent))
      }
    }
  }

  /** S1 + P1: source files → sentences. The flatMap is narrow — no
    * shuffle. */
  def sentences(spark: SparkSession, files: Dataset[SourceFile]): Dataset[Sentence] = {
    import spark.implicits._
    files.flatMap(f => fileSentences(f.repo, f.path, f.lang, f.content))
  }

  // ---- stage 2: NER + trigger + negation tagging (BETTER analog) ----

  /** Tagging for one sentence: NER CRF decode → trigger decode with P11a
    * mask → negation cue+scope (two chained passes, train.py:1791-1813). */
  def tagSentence(s: Sentence): TaggedSentence = {
    val ner = Taggers.nerSpans(s.tokens)
    val triggers = Taggers.triggerSpans(s.tokens, ner)
    val cues = Taggers.negationCues(s.tokens)
    val scope = Taggers.negationScope(s.tokens, cues)
    TaggedSentence(s.repo, s.path, s.contentSha, s.lineNum, s.senNum,
      sentKeyOf(s.repo, s.path, s.lineNum, s.senNum),
      s.tokens, ner, triggers, cues, scope)
  }

  /** mapPartitions tagging stage: [[tagSentence]] per sentence. Narrow —
    * no shuffle. */
  def tagStage(spark: SparkSession, sents: Dataset[Sentence]): Dataset[TaggedSentence] = {
    import spark.implicits._
    lengthSorted(sents).mapPartitions(_.map(tagSentence))
  }

  /** K3: length-sorted batching (joint_model.py:62 pad_collate) — groups
    * similar-length sentences so a batched scorer pads minimally; narrow
    * (within-partition) sort, no shuffle. */
  private def lengthSorted(sents: Dataset[Sentence]): Dataset[Sentence] =
    sents.sortWithinPartitions(size(col("tokens")).desc)

  /** K3's batching SEMANTICS made driver-visible. The physical K3 op in
    * [[tagStage]] is a narrow `sortWithinPartitions` — deliberately
    * placement-dependent, so its effect (pad minimization) can't be
    * value-checked from output rows. This companion computes the batch
    * plan the same policy produces on a DETERMINISTIC grouping: within
    * each `grp`, rows sort by `len` desc (tie-break `ord` asc), split
    * into fixed-size batches, and each batch reports its padding cost
    * `pad_waste = n*max(len) - sum(len)` — the quantity the length sort
    * minimizes (reference pad_collate, joint_model.py:62: batches are
    * padded to their max member, so grouping similar lengths shrinks the
    * pad). One shuffle on the group key; the window is bounded by the
    * group size, so at cluster scale `grp` should be a partition-sized
    * key (doc shard, file) exactly like the pipeline's per-partition
    * batches. */
  def batchPadPlan(df: DataFrame, grp: org.apache.spark.sql.Column,
      len: org.apache.spark.sql.Column, ord: org.apache.spark.sql.Column,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("len").desc, col("ord").asc)
    df.select(grp.cast("long").as("grp"), len.cast("long").as("len"),
        ord.cast("long").as("ord"))
      .withColumn("batch_id",
        ((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy(col("grp"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("pad_waste",
        col("n_rows") * col("max_len") - col("sum_len"))
  }

  /** The whitespace token count q55 batches by: 0 for empty or blank
    * text, otherwise the number of `\s+`-separated pieces of the trimmed
    * text. */
  def wsTokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  // ---- stage 3: X1 event expansion + per-event argument tagging ----

  /** One row per decoded trigger (the reference's expand_sents,
    * EventPipeline.py:429-576), argument model run per expanded pair with
    * P11b/P11c masks. flatMap — narrow. */
  def eventRows(spark: SparkSession, tagged: Dataset[TaggedSentence]): Dataset[EventRow] = {
    import spark.implicits._
    tagged.flatMap(triggerEvents)
  }

  /** X1 for one sentence: one event per trigger, arguments tagged. */
  private def triggerEvents(t: TaggedSentence): Seq[EventRow] =
    t.triggers.map { tr =>
      val args = Taggers.argumentSpans(t.tokens, t.ner, tr)
      EventRow(t.repo, t.path, t.contentSha, t.lineNum, t.senNum, t.sentKey,
        eventIdOf(t.sentKey, tr.start), tr.eventType, tr.text,
        Ontology.lemmaOf(tr.text), tr.start, tr.end, args)
    }

  // ---- stage 4: TempRel — A1 head aggregation + J4 pair self-join ----

  /** Per-token head-evidence rows (two evidence channels per token). */
  def headEvidence(spark: SparkSession, sents: Dataset[Sentence]): DataFrame = {
    import spark.implicits._
    sents.flatMap { s =>
      val key = sentKeyOf(s.repo, s.path, s.lineNum, s.senNum)
      s.tokens.zipWithIndex.flatMap { case (tok, i) =>
        Taggers.headEvidence(tok).map(p => (key, i, tok, p))
      }
    }.toDF("sentKey", "tokIdx", "tok", "prob")
  }

  /** A1: mean(prob) > 0.5 per (sentence, token) — joint_model.py:342-369.
    * Partial aggregation (map-side combine) is free from Catalyst here. */
  def eventHeads(evidence: DataFrame): DataFrame =
    evidence.groupBy("sentKey", "tokIdx", "tok")
      .agg(avg("prob").as("p"))
      .filter(col("p") > 0.5)
      .select("sentKey", "tokIdx", "tok")

  /** Fused A1 for the composed pipeline (guide §2.3 "aggregate before you
    * shuffle", taken to its limit): both of a token's evidence channels
    * come from ONE `Taggers.headEvidence` call, so the keyed
    * mean-threshold collapses to a narrow per-token mean — no
    * two-rows-per-token evidence explode, no aggregation shuffle. Same
    * (a+b)/2 > 0.5 arithmetic as `eventHeads(headEvidence(...))`;
    * equality of the two paths is pinned by OperatorSpec. */
  def headsNarrow(spark: SparkSession,
      tagged: Dataset[TaggedSentence]): DataFrame = {
    import spark.implicits._
    tagged.flatMap { s =>
      s.tokens.zipWithIndex.collect { case (tok, i) if isHead(tok) =>
        (s.sentKey, i, tok)
      }
    }.toDF("sentKey", "tokIdx", "tok")
  }

  /** A1 for one token: the mean of its two evidence channels > 0.5. */
  private def isHead(tok: String): Boolean = {
    val ev = Taggers.headEvidence(tok)
    ev.sum / ev.size > 0.5
  }

  /** J4: per-sentence ordered pairs (the theta self-join,
    * joint_model.py:403-437) with the distance feature. Cardinality is
    * sentence-bounded (≤ C(heads,2) per sentence), so the N² is safe at
    * any corpus scale. */
  def relationCandidates(heads: DataFrame): DataFrame = {
    val l = heads.select(col("sentKey"), col("tokIdx").as("l"), col("tok").as("ltok"))
    val r = heads.select(col("sentKey"), col("tokIdx").as("r"), col("tok").as("rtok"))
    l.join(r, Seq("sentKey"))
      .filter(col("l") < col("r"))
      .withColumn("dist", col("r") - col("l")) // distance feature :431-432
  }

  /** Relation scorer: first temporal connective strictly between the two
    * heads decides the label (NONE seed otherwise, joint_model.py:431).
    * Pure Catalyst higher-order functions — stays in whole-stage codegen;
    * no UDF. */
  def scoreRelations(candidates: DataFrame, sentTokens: DataFrame): DataFrame = {
    val connMap = typedLit(Ontology.Connectives)
    candidates.join(sentTokens, Seq("sentKey"))
      .withColumn("between", slice(col("tokens"), col("l") + 2, greatest(col("dist") - 1, lit(0))))
      .withColumn("connLabels",
        filter(transform(col("between"), t => try_element_at(connMap, lower(t))),
          x => x.isNotNull))
      .withColumn("label", coalesce(try_element_at(col("connLabels"), lit(1)), lit("NONE")))
      .select("sentKey", "l", "r", "label")
  }

  /** P6: drop VAGUE and NONE (main.py:184-186). */
  def filterRelations(scored: DataFrame): DataFrame =
    scored.filter(!col("label").isin("VAGUE", "NONE"))

  // ---- stage 5: J1 alignment + P7 containment + U1 union ----

  /** J1: fuzzy nearest alignment of TempRel heads onto BETTER tokens
    * (main.py:117-144): equi-join on (sentKey, cleanTok == headText), band
    * |Δidx| ≤ 2, nearest-by-|Δ| wins via row_number (W1: `closest`,
    * main.py:18-19). Exact-idx match wins automatically (|Δ|=0 sorts
    * first). */
  def alignHeads(heads: DataFrame, sentTokens: DataFrame): DataFrame = {
    // The ±2 band is read DIRECTLY from the sentence's token array: one
    // equi-join on sentKey and a narrow per-head scan of at most five
    // candidate positions, picking min (|Δ|, bIdx). The previous form
    // posexploded every sentence to per-token rows (a |tokens|-way
    // blowup), joined heads against THAT (head × sentence-length fan-out
    // before the band filter), and ran a row_number window over the
    // candidates — two extra shuffles of corpus-sized frames for a
    // decision that is local to (head, its sentence). Candidate set,
    // '.'-strip rule, ±2 cutoff, and the (|Δ|, bIdx) tie-break are
    // unchanged (OperatorSpec J1 + the q41 oracle pin them).
    val n = size(col("tokens"))
    val lo = greatest(col("tokIdx") - lit(2), lit(0))
    val hi = least(col("tokIdx") + lit(2), n - lit(1))
    val band = when(hi >= lo, sequence(lo, hi))
      .otherwise(array().cast("array<int>"))
    val headClean = regexp_replace(col("tok"), "\\.", "")
    val cands = filter(band, i =>
      regexp_replace(element_at(col("tokens"), i + 1), "\\.", "") === headClean)
    val best = array_min(transform(cands, i =>
      struct(abs(i - col("tokIdx")).as("d"), i.as("bIdx"))))
    heads.join(sentTokens, Seq("sentKey"))
      .withColumn("best", best)
      .filter(col("best").isNotNull)
      .select(col("sentKey"), col("tokIdx"),
        col("best.bIdx").as("alignedIdx"),
        element_at(col("tokens"), col("best.bIdx") + 1).as("alignedTok"))
  }

  /** P7 + endpoint mapping (J3): keep relations whose BOTH endpoints
    * aligned (main.py:179-183), and rewrite endpoints to aligned token
    * positions. */
  def mapRelationEndpoints(relations: DataFrame, aligned: DataFrame): DataFrame = {
    val aL = aligned.select(col("sentKey"), col("tokIdx").as("l"),
      col("alignedIdx").as("lAligned"))
    val aR = aligned.select(col("sentKey"), col("tokIdx").as("r"),
      col("alignedIdx").as("rAligned"))
    relations.join(aL, Seq("sentKey", "l")).join(aR, Seq("sentKey", "r"))
      .select("sentKey", "lAligned", "rAligned", "label")
  }

  /** U1: aligned TempRel heads NOT contained in a BETTER trigger are
    * injected as typeless single-token events (main.py:140-167): anti-join
    * + unionByName. */
  def injectTempRelOnlyEvents(spark: SparkSession, aligned: DataFrame,
      events: Dataset[EventRow], tagged: Dataset[TaggedSentence]): Dataset[EventRow] = {
    import spark.implicits._
    // trigger positions come from the CACHED tagged frame, not from
    // `events`: the events subtree runs per-event argument Viterbi, and
    // evaluating it a second time just to read (sentKey, trigStart) was
    // ~20% of total pipeline task time (round-3 profile) — the tagged
    // triggers carry the same key set for free
    val triggerKeys = tagged
      .select(col("sentKey"), explode(col("triggers")).as("tr"))
      .select(col("sentKey"), col("tr.start").as("trigStart"))
    val nonContained = aligned.join(triggerKeys,
      aligned("sentKey") === triggerKeys("sentKey") &&
        aligned("alignedIdx") === triggerKeys("trigStart"),
      "left_anti")
    val sentMeta = tagged.select(col("sentKey").as("sk"), col("repo"),
      col("path"), col("contentSha"), col("lineNum"), col("senNum"))
    val injected = nonContained
      .join(sentMeta, nonContained("sentKey") === sentMeta("sk"))
      .select(col("repo"), col("path"), col("contentSha"), col("lineNum"),
        col("senNum"), col("sentKey"),
        concat(col("sentKey"), lit(":T"), col("alignedIdx")).as("eventId"),
        lit("").as("eventType"), col("alignedTok").as("trigText"),
        lower(col("alignedTok")).as("trigLemma"),
        col("alignedIdx").as("trigStart"), col("alignedIdx").as("trigEnd"),
        typedLit(Seq.empty[Argument]).as("args"))
      .dropDuplicates("eventId") // two heads can align to one token; dedupe
      .as[EventRow] //              the SMALL injected side, not the union
    events.unionByName(injected)
  }

  // ---- stage 6: duration (J2) + speculation (P9) ----

  /** Duration classification per trigger row (the reference's REST hop,
    * main.py:51-62 + REST_service/main.py — eliminated into an in-process
    * mapPartitions stage per SURVEY.md S6). */
  def durations(spark: SparkSession, events: Dataset[EventRow]): DataFrame = {
    import spark.implicits._
    events.mapPartitions { it =>
      it.map(e => (e.sentKey, e.trigStart, Taggers.durationOf(e.trigText)))
    }.toDF("sentKey", "trigStart", "duration")
  }

  /** J2 blank-then-join (main.py:173-175, 209-215) + P9 speculation from
    * the negation scope (main.py:226-230). Same-key joins — partitioning
    * reused. */
  def enrich(spark: SparkSession, events: Dataset[EventRow], durs: DataFrame,
      tagged: Dataset[TaggedSentence]): DataFrame = {
    val scope = tagged.select(col("sentKey"), col("negationScope"))
    events
      .join(durs, Seq("sentKey", "trigStart"), "left")
      .withColumn("duration", coalesce(col("duration"), lit("")))
      .join(scope, Seq("sentKey"), "left")
      .withColumn("speculation",
        coalesce(element_at(col("negationScope"), col("trigStart") + 1) === 1,
          lit(false)))
      .drop("negationScope")
  }

  // ---- the per-sentence annotate kernel ----

  /** An enriched event: [[EventRow]] plus the J2 duration and the P9
    * speculation flag, in the column order of [[enrich]]'s output. */
  case class EnrichedEvent(
      sentKey: String,
      trigStart: Int,
      repo: String,
      path: String,
      contentSha: String,
      lineNum: Int,
      senNum: Int,
      eventId: String,
      eventType: String,
      trigText: String,
      trigLemma: String,
      trigEnd: Int,
      args: Seq[Argument],
      duration: String,
      speculation: Boolean)

  /** A temporal relation between two aligned token positions — the row
    * [[mapRelationEndpoints]] emits. */
  case class RelationRow(sentKey: String, lAligned: Int, rAligned: Int,
      label: String)

  case class SentenceAnnotation(events: Seq[EnrichedEvent],
      relations: Seq[RelationRow])

  /** One row of the committed `annotated` stage: a [[TaggedSentence]] with
    * its [[annotateSentence]] output nested in it. */
  case class AnnotatedSentence(
      repo: String,
      path: String,
      contentSha: String,
      lineNum: Int,
      senNum: Int,
      sentKey: String,
      tokens: Seq[String],
      ner: Seq[NerSpan],
      triggers: Seq[Trigger],
      negationCue: Seq[Int],
      negationScope: Seq[Int],
      events: Seq[EnrichedEvent],
      relations: Seq[RelationRow])

  /** The annotate layer for one sentence, as pure code: exactly the rows
    * the relational composition `enrich(injectTempRelOnlyEvents(...))` and
    * `mapRelationEndpoints(filterRelations(scoreRelations(...)))` produces
    * for this sentence when it is alone under its `sentKey`. */
  def annotateSentence(t: TaggedSentence): SentenceAnnotation =
    SentenceAnnotation(sentenceEvents(t), sentenceRelations(t))

  /** A1 + J1: the positions of the sentence's heads. A head is one of the
    * sentence's own tokens, so its J1 band (|Δ| ≤ 2, '.'-stripped text
    * equal, nearest first) always holds the head itself at |Δ| = 0: every
    * head aligns to its own position, and P7 keeps every pair. */
  private def headPositions(tokens: Seq[String]): IndexedSeq[Int] =
    tokens.indices.filter(i => isHead(tokens(i)))

  /** Catalyst's `lower` on one string — the call the SQL function makes,
    * so the kernel folds case exactly as the relational operators do. */
  private def sqlLower(s: String): String =
    CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)).toString

  /** J4 + connective scoring + P6 + P7/J3: every head pair l < r whose first
    * connective strictly between them is a real temporal label. */
  private def sentenceRelations(t: TaggedSentence): Seq[RelationRow] = {
    val tokens = t.tokens.toIndexedSeq
    headPositions(tokens).combinations(2).flatMap { case Seq(l, r) =>
      val label = (l + 1 until r).iterator
        .flatMap(i => Ontology.Connectives.get(sqlLower(tokens(i))))
        .nextOption().getOrElse("NONE")
      if (label == "VAGUE" || label == "NONE") None
      else Some(RelationRow(t.sentKey, l, r, label))
    }.toSeq
  }

  /** X1 + U1 + J2 + P9: trigger events plus a typeless event at every head
    * no trigger starts at, each with its duration and speculation flag. */
  private def sentenceEvents(t: TaggedSentence): Seq[EnrichedEvent] = {
    val tokens = t.tokens.toIndexedSeq
    val trigStarts = t.triggers.map(_.start).toSet
    val injected = headPositions(tokens).filterNot(trigStarts).map { i =>
      EventRow(t.repo, t.path, t.contentSha, t.lineNum, t.senNum, t.sentKey,
        eventIdOf(t.sentKey, i), "", tokens(i), sqlLower(tokens(i)), i, i,
        Seq.empty)
    }
    val events = triggerEvents(t) ++ injected
    // J2 joins durations on (sentKey, trigStart): an event pairs with the
    // duration of EVERY event that starts at its token
    val durationsAt = events.groupMap(_.trigStart)(e => Taggers.durationOf(e.trigText))
    for (e <- events; d <- durationsAt(e.trigStart)) yield EnrichedEvent(
      e.sentKey, e.trigStart, e.repo, e.path, e.contentSha, e.lineNum,
      e.senNum, e.eventId, e.eventType, e.trigText, e.trigLemma, e.trigEnd,
      e.args, d, t.negationScope.lift(e.trigStart).contains(1))
  }

  /** Quarantine-aware extraction: per-record failures become rows in a
    * quarantine table instead of being swallowed (the reference's
    * try/except drop, test_on_raw_text.py:107-117 — SURVEY.md §2.9). */
  case class SentOrErr(sent: Option[Sentence], err: Option[QuarantineRow])

  def extract(spark: SparkSession, files: Dataset[SourceFile]): Dataset[SentOrErr] = {
    import spark.implicits._
    files.flatMap { f =>
      try {
        fileSentences(f.repo, f.path, f.lang, f.content)
          .map(s => SentOrErr(Some(s), None))
      } catch {
        case e: Exception =>
          Seq(SentOrErr(None, Some(QuarantineRow(f.repo, f.path, -1, -1,
            "extract", e.toString.take(500)))))
      }
    }
  }

  // ---- full annotate: the composed DAG up to enriched events ----

  case class Annotated(
      tagged: Dataset[TaggedSentence],
      events: DataFrame, // EventRow + duration + speculation
      relations: DataFrame, // sentKey, lAligned, rAligned, label
      // every frame persist()ed while building this Annotated — a
      // long-lived session (Bench/serving) unpersists them once the
      // downstream triple frame is materialized, instead of accumulating
      // cached partitions per emit (Triples.materialize does this)
      caches: Seq[DataFrame] = Seq.empty)

  def annotate(spark: SparkSession, files: Dataset[SourceFile]): Annotated = {
    // ONE cached frame, one narrow fused stage: extraction flatMap →
    // tagging mapPartitions → tagged cache. No range repartition (the
    // sampler re-ran the extraction flatMap and nothing downstream
    // consumed the layout — every relational op hash-shuffles on its own
    // key, guide §2.4) and no separate `sents` cache: the tagged frame
    // carries sentKey + tokens, which is everything the annotate kernel
    // reads, so caching the sentence frame only added an encoder
    // round-trip + columnar cache write of the whole corpus (measured:
    // per-sentence tagging compute is ~0.15 ms while the stage cost
    // ~1.3 ms/row — the difference was Dataset encode/cache machinery).
    // persist (columnar cache), not localCheckpoint: tried both — the
    // checkpoint skips the columnar encode but loses column pruning, and
    // the tagged frame's downstream consumers (the two annotate flatMaps,
    // emit's relation and entity branches) mostly read narrow
    // projections, so full-UnsafeRow scans cost MORE in total task time
    // (332 vs 285 s at sf0.1). The count materializes the cache before
    // the fan-out so broadcast threads never race a cold subtree.
    val tagged = tagStage(spark, sentences(spark, files)).persist()
    tagged.count()
    val ann = annotateFrom(spark, tagged)
    ann.copy(caches = ann.caches :+ tagged.toDF())
  }

  /** The annotate layer over a tagged frame (shared by the in-memory path
    * and the checkpoint-resumable path): two narrow flatMaps running the
    * [[annotateSentence]] kernel — the events half and the relations half,
    * so neither pays for the other's work. No join, no shuffle, no cache:
    * each sentence is annotated on its own, so two rows that share a
    * `sentKey` (one file under two commits) never mix. */
  def annotateFrom(spark: SparkSession,
      tagged: Dataset[TaggedSentence]): Annotated = {
    import spark.implicits._
    Annotated(tagged, tagged.flatMap(sentenceEvents).toDF(),
      tagged.flatMap(sentenceRelations).toDF())
  }

  /** Ingest reference-format annotation records (Sources.annotationSchema,
    * the golden .pred.json shape) into the Annotated frame: runs the
    * engine's assembly / linking / canonicalization / materialization over
    * REFERENCE-produced annotations instead of its own taggers — the
    * circularity breaker for the golden gate (GoldenAceSpec), and the
    * general adapter for re-materializing a KG from committed annotation
    * snapshots. Durations / speculation / relations absent from a record
    * become blank / false / empty (the reference renders the same
    * defaults, main.py:209-230). Narrow maps only — no shuffle. */
  def fromAnnotations(spark: SparkSession, ann: DataFrame, repo: String,
      path: String): Annotated = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val withIdx = if (ann.columns.contains("rec_idx")) ann
      else ann.withColumn("rec_idx", lit(0L))
    val base = withIdx.select(col("rec_idx").cast("long"), col("line_num"),
      col("sen_num"), col("tokens"), col("events"), col("ner")).persist()

    // nested struct arrays come back as scala.collection.Seq (mutable
    // ArraySeq at runtime) — never ascribe immutable Seq to them
    def nested(r: Row, field: String): scala.collection.Seq[Row] =
      Option(r.getAs[scala.collection.Seq[Row]](field))
        .getOrElse(scala.collection.Seq.empty)

    def meta(r: Row): (Int, Int, Seq[String], String) = {
      val lineNum = if (r.isNullAt(1)) 0 else r.getInt(1)
      val senNum = if (r.isNullAt(2)) r.getLong(0).toInt else r.getInt(2)
      val tokens = Option(r.getSeq[String](3)).getOrElse(Seq.empty)
      (lineNum, senNum, tokens, graft.text.Text.sha256(tokens.mkString(" ")))
    }
    def eventRows(r: Row): Seq[Row] =
      Option(r.getSeq[Row](4)).getOrElse(Seq.empty)

    val tagged = base.map { r =>
      val (lineNum, senNum, tokens, sha) = meta(r)
      val ner = Option(r.getSeq[scala.collection.Seq[String]](5))
        .getOrElse(Seq.empty)
        .collect { case s if s != null && s.length >= 3 =>
          NerSpan(s(0).toInt, s(1).toInt, s(2)) }
      val triggers = eventRows(r).flatMap { ev =>
        val evType = Option(ev.getAs[String]("event_type")).getOrElse("")
        nested(ev, "triggers").map { tr =>
          Trigger(evType, Option(tr.getAs[String]("text")).getOrElse(""),
            tr.getAs[Int]("start_token"), tr.getAs[Int]("end_token"))
        }
      }
      TaggedSentence(repo, path, sha, lineNum, senNum,
        sentKeyOf(repo, path, lineNum, senNum), tokens, ner, triggers,
        Seq.empty, Seq.empty)
    }

    val events = base.flatMap { r =>
      val (lineNum, senNum, _, sha) = meta(r)
      val sentKey = sentKeyOf(repo, path, lineNum, senNum)
      eventRows(r).flatMap { ev =>
        val evType = Option(ev.getAs[String]("event_type")).getOrElse("")
        val dur = Option(ev.getAs[String]("duration")).getOrElse("")
        val spec = Option(ev.getAs[Any]("speculation"))
          .exists(_.asInstanceOf[Boolean])
        val args = nested(ev, "arguments")
          .map(a => Argument(Option(a.getAs[String]("role")).getOrElse(""),
            Option(a.getAs[String]("text")).getOrElse(""),
            a.getAs[Int]("start_token"), a.getAs[Int]("end_token"))).toSeq
        // P5 event assembly: each trigger becomes an event row carrying
        // the event-level type (the reference's first-trigger convention)
        nested(ev, "triggers").map { tr =>
          val text = Option(tr.getAs[String]("text")).getOrElse("")
          val start = tr.getAs[Int]("start_token")
          (EventRow(repo, path, sha, lineNum, senNum, sentKey,
            eventIdOf(sentKey, start), evType, text,
            Ontology.lemmaOf(text), start, tr.getAs[Int]("end_token"), args),
            dur, spec)
        }
      }
    }.select(col("_1.*"), col("_2").as("duration"), col("_3").as("speculation"))

    val relations = spark.emptyDataset[(String, Int, Int, String)]
      .toDF("sentKey", "lAligned", "rAligned", "label")
    Annotated(tagged, events, relations, caches = Seq(base.toDF()))
  }

  /** The narrow layers in one pass: K3's length sort, then per sentence
    * [[tagSentence]] and [[annotateSentence]], one [[AnnotatedSentence]]
    * row each. Narrow — no shuffle. */
  def annotatedStage(spark: SparkSession,
      sents: Dataset[Sentence]): Dataset[AnnotatedSentence] = {
    import spark.implicits._
    lengthSorted(sents).mapPartitions(_.map { s =>
      val t = tagSentence(s)
      val a = annotateSentence(t)
      AnnotatedSentence(t.repo, t.path, t.contentSha, t.lineNum, t.senNum,
        t.sentKey, t.tokens, t.ner, t.triggers, t.negationCue,
        t.negationScope, a.events, a.relations)
    })
  }

  /** An [[annotatedStage]] frame read as the three frames emit consumes:
    * the tagged sentences without the nested arrays, and the events and
    * relations exploded out of them. */
  def annotatedFrames(spark: SparkSession, annotated: DataFrame): Annotated = {
    import spark.implicits._
    Annotated(annotated.drop("events", "relations").as[TaggedSentence],
      annotated.select(explode(col("events")).as("e")).select(col("e.*")),
      annotated.select(explode(col("relations")).as("r")).select(col("r.*")))
  }

  /** Checkpoint-resumable end-to-end run (north rule). Three stages commit
    * an Iceberg-style snapshot + manifest via Store: `quarantine` (the
    * extraction failures), `annotated` ([[annotatedStage]]: tagging and
    * annotation in one pass, its manifest recording the nested event count
    * under `events`) and `triples` (emit over [[annotatedFrames]] of the
    * committed `annotated` snapshot). A rerun resumes from the committed
    * stages — their compute closures are never invoked. Returns the triple
    * DataFrame (committed). */
  def runCheckpointed(spark: SparkSession, files: Dataset[SourceFile],
      root: String, inputSig: String): DataFrame = {
    import spark.implicits._
    // one extraction cache feeds both the quarantine and the annotated
    // commits; it is released once both are on disk. runStage skips the
    // body of a committed stage, so a resume caches nothing.
    var extracted: Option[Dataset[SentOrErr]] = None
    def extraction: Dataset[SentOrErr] = extracted.getOrElse {
      val e = extract(spark, files).persist()
      extracted = Some(e)
      e
    }
    Store.runStage(spark, root, "quarantine", inputSig) {
      extraction.flatMap(_.err).toDF()
    }
    // the event count rides on the lineage aggregate; `events.trigStart`
    // reads one int leaf of the nested events
    val annotated = Store.runStageCounting(spark, root, "annotated", inputSig,
        Seq("events" -> size(col("events.trigStart")))) {
      annotatedStage(spark, extraction.flatMap(_.sent)).toDF()
    }
    extracted.foreach(_.unpersist())
    // capture emit's intermediate caches (events/formMap/blockCanon) so
    // they release once the stage snapshot is committed — the lazy
    // Triples.emit otherwise leaves them persisted for the session's
    // lifetime. runStage skips the body entirely on resume, so the var
    // stays empty (and nothing was cached) when the stage is committed.
    var emitCaches: Seq[DataFrame] = Nil
    val out = Store.runStage(spark, root, "triples", inputSig) {
      val (frame, caches) =
        Triples.emitWithCaches(spark, annotatedFrames(spark, annotated),
          committedEvents = Store.readCount(root, "annotated", "events"))
      emitCaches = caches
      frame
    }
    emitCaches.foreach(_.unpersist())
    out
  }
}
