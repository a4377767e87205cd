package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.kg.Pipeline
import graft.model._
import graft.tag.Taggers
import graft.text.Text

/** Structured Streaming face of the engine. The reference is synchronous
  * request/response (SURVEY.md §2.9) — its streaming-shaped mechanisms
  * (checkpoint-every-20-docs, long-lived REST worker) map to:
  *   - `readStream` → narrow per-sentence extraction → `writeStream` with
  *     checkpointLocation (exactly-once file sink);
  *   - watermarked windowed aggregation over triple counts;
  *   - per-repo progress via `flatMapGroupsWithState` (custom state).
  *
  * The streaming path runs the NARROW subset of the DAG (sentence split,
  * tagging, per-event argument decode, duration, speculation — all
  * per-sentence, shuffle-free, so they run identically under micro-batch)
  * through the same per-file and per-sentence functions as the batch
  * builds: every narrow triple is a batch triple, role triples up to
  * argument canonicalization (StreamingSpec pins both).
  * Cross-sentence ops (TempRel endpoint alignment across components,
  * canonicalization, sameAs linking) are batch compaction over the sink —
  * the standard lambda split, and the reason the batch pipeline commits
  * Iceberg-style snapshots the compactor can resume from.
  */
object StreamingKg {

  /** A source-file row stamped with its ingest/event time. */
  case class StampedFile(ts: Timestamp, repo: String, path: String,
      commit: String, lang: String, content: String)

  case class StampedTriple(ts: Timestamp, subj: String, pred: String,
      obj: String, repo: String, path: String, contentSha: String)

  /** Narrow per-sentence triple extraction — legal on a streaming Dataset
    * (flatMap only, no shuffle). Works identically on batch inputs, which
    * is how the equivalence test pins the semantics. Shares the batch
    * front end ([[Pipeline.fileSentences]], [[Pipeline.tagSentence]],
    * [[Pipeline.triggerEvents]]) and emits the per-sentence subset of
    * `Triples.emit`: each trigger's own duration, argument text as
    * tagged (not canonicalized), no U1-injected events, no relations. */
  def narrowTriples(spark: SparkSession, files: Dataset[StampedFile]): Dataset[StampedTriple] = {
    import spark.implicits._
    files.flatMap { f =>
      Pipeline.fileSentences(f.repo, f.path, f.lang, f.content).flatMap { s =>
        val t = Pipeline.tagSentence(s)
        def t3(subj: String, p: String, o: String) =
          StampedTriple(f.ts, subj, p, o, f.repo, f.path, s.contentSha)
        val eventTriples = Pipeline.triggerEvents(t).flatMap { e =>
          val dur = Taggers.durationOf(e.trigText)
          Seq(t3(e.eventId, "hasType", e.eventType)) ++
            e.args.map(a => t3(e.eventId, a.role, a.text)) ++
            (if (dur.nonEmpty) Seq(t3(e.eventId, "hasDuration", dur)) else Nil) ++
            (if (t.negationScope.lift(e.trigStart).contains(1))
              Seq(t3(e.eventId, "speculated", "true")) else Nil)
        }
        val entTriples = t.ner.map(nsp => t3(s"${f.repo}/${f.path}", "hasEntity",
          s"${nsp.label}:${Text.spanText(t.tokens, nsp.start, nsp.end)}"))
        eventTriples ++ entTriples
      }
    }
  }

  /** Watermarked tumbling-window counts of triples per predicate: the
    * streaming analog of `kg_triples_by_pred`. Late rows beyond the
    * watermark are dropped (state is bounded — required at unbounded
    * input). */
  def windowedTripleCounts(triples: Dataset[StampedTriple],
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    triples.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("pred"))
      .agg(count(lit(1)).as("n"))

  /** Append-mode distinct windowed counts — the full watermark surface in
    * one chain: predicate filter → watermark → streaming dedup
    * (`dropDuplicatesWithinWatermark` on the triple key; duplicates of a
    * file-scoped triple always share the file's event time, so the dedup
    * is deterministic) → tumbling-window count per (window, pred). Two
    * chained stateful operators, both state-bounded by the watermark:
    * late rows beyond it are DROPPED by the window aggregate (no
    * unbounded reprocessing at 10^12-file scale), and windows finalize
    * (emit, in append mode) only once the watermark passes their end —
    * exactly-once window rows downstream. */
  def windowedDistinctTripleCounts(triples: Dataset[StampedTriple],
      preds: Seq[String],
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    triples.toDF()
      .filter(col("pred").isin(preds: _*))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("subj", "pred", "obj")
      .groupBy(window(col("ts"), window_), col("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-repo cumulative progress via flatMapGroupsWithState — the custom
    * stateful operator (KeyValueGroupedDataset), replacing the reference's
    * in-process running counters. Emits one updated row per repo per
    * micro-batch.
    *
    * `files` is a DISTINCT-path count from a fixed-size HyperLogLog
    * sketch (m=256 registers, ±6.5% at scale, exact for small counts via
    * the linear-counting correction) carried in the GroupState: an exact
    * seen-path set would grow with the corpus (10^12 paths — unbounded
    * state), and summing per-batch distinct counts double-counts a path
    * whose rows span two micro-batches. */
  case class RepoProgress(repo: String, files: Long, triples: Long)
  case class ProgressState(registers: Seq[Byte], triples: Long)

  private val HllM = 256

  private[streaming] def hllAdd(regs: Array[Byte], s: String): Unit = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val idx = h & (HllM - 1)
    val w = h >>> 8
    val rank = (if (w == 0) 25 else Integer.numberOfTrailingZeros(w) + 1).toByte
    if (rank > regs(idx)) regs(idx) = rank
  }

  private[streaming] def hllEstimate(regs: Array[Byte]): Long = {
    val m = HllM.toDouble
    val alpha = 0.7213 / (1 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    regs.foreach { r => sum += math.pow(2.0, -r); if (r == 0) zeros += 1 }
    val est = alpha * m * m / sum
    val corrected =
      if (est <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else est
    math.round(corrected)
  }

  def repoProgress(spark: SparkSession, triples: Dataset[StampedTriple]): Dataset[RepoProgress] = {
    import spark.implicits._
    triples
      .groupByKey(_.repo)
      .flatMapGroupsWithState[ProgressState, RepoProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (repo, rows, state: GroupState[ProgressState]) =>
          val prev = state.getOption.getOrElse(
            ProgressState(Seq.fill(HllM)(0: Byte), 0L))
          val regs = prev.registers.toArray
          var triplesSeen = 0L
          rows.foreach { r => triplesSeen += 1; hllAdd(regs, r.path) }
          val next = ProgressState(regs.toSeq, prev.triples + triplesSeen)
          state.update(next)
          Iterator.single(RepoProgress(repo, hllEstimate(regs), next.triples))
      }
  }

  /** Streaming exact dedup (ingest hygiene): suppress files whose content
    * sha256 was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` evicts state past the watermark —
    * REQUIRED at 10^12-file scale, where an unbounded seen-set cannot
    * exist; duplicates that recur beyond the horizon pass through, and
    * dropping them is a batch pass over the committed snapshots — the
    * same lambda split as the other cross-sentence ops. */
  def dedupedFiles(files: Dataset[StampedFile],
      watermark: String = "10 minutes"): Dataset[StampedFile] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.toDF()
      .withColumn("content_sha", sha2(col("content"), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_sha")
      .drop("content_sha")
      .as[StampedFile]
  }

  /** End-to-end streaming writer: parquet sink + checkpointLocation (the
    * streaming replacement for the reference's checkpoint-every-20-docs,
    * test_on_raw_text.py:119-120 — exactly-once via the sink log). */
  def startFileSink(spark: SparkSession, files: Dataset[StampedFile],
      outDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    narrowTriples(spark, files).toDF()
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
