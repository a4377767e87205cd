package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.corpus.Synth
import graft.streaming.StreamingKg
import graft.streaming.StreamingKg.{StampedFile, StampedTriple}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def stamped(i: Long, minute: Int): StampedFile = {
    val f = Synth.sourceFile(i, 4)
    StampedFile(Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00"),
      f.repo, f.path, f.commit, f.lang, f.content)
  }

  test("streaming narrow triples == batch narrow triples on the same rows") {
    val rows = (0L until 10L).map(i => stamped(i, (i % 5).toInt))
    val batch = StreamingKg.narrowTriples(spark, rows.toDS()).collect().toSet

    val mem = MemoryStream[StampedFile](spark)
    mem.addData(rows.take(4): _*)
    mem.addData(rows.drop(4): _*)
    val q = StreamingKg.narrowTriples(spark, mem.toDS()).toDF()
      .writeStream.format("memory").queryName("narrow_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("narrow_out").as[StampedTriple].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("every narrow triple is a batch triple (role triples by subject " +
      "and role: batch canonicalizes the argument text)") {
    val files = Synth.corpus(spark, 24L, 4)
    val narrow = StreamingKg.narrowTriples(spark, files.map(f =>
      StampedFile(new Timestamp(0L), f.repo, f.path, f.commit, f.lang, f.content)))
      .collect()
    val batch = graft.kg.Triples.fromFiles(spark, files).as[T6].collect().toSet
    val exact = Set("hasType", "hasDuration", "speculated", "hasEntity")
    val (fixed, roles) = narrow.partition(t => exact(t.pred))
    assert(fixed.map(_.pred).toSet.contains("hasType") && roles.nonEmpty)
    val missing = fixed.map(t => T6(t.subj, t.pred, t.obj, t.repo, t.path,
      t.contentSha)).filterNot(batch)
    assert(missing.isEmpty, missing.take(5).mkString("; "))
    val batchRoles = batch.map(t => (t.subj, t.pred))
    val missingRoles = roles.map(t => (t.subj, t.pred)).filterNot(batchRoles)
    assert(missingRoles.isEmpty, missingRoles.take(5).mkString("; "))
  }

  test("watermarked windowed counts aggregate per 5-minute window") {
    val mem = MemoryStream[StampedFile](spark)
    mem.addData(stamped(0, 1), stamped(1, 2), stamped(2, 7), stamped(3, 8))
    val agg = StreamingKg.windowedTripleCounts(
      StreamingKg.narrowTriples(spark, mem.toDS()))
    val q = agg.writeStream.format("memory").queryName("windowed_out")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      """SELECT date_format(window.start, 'HH:mm') AS ws, pred, n
        |FROM windowed_out""".stripMargin).collect()
    assert(rows.nonEmpty)
    val windows = rows.map(_.getString(0)).distinct.sorted
    assert(windows.toSeq == Seq("10:00", "10:05"))
    // hasType counts in each window must equal the batch counts
    val batch = StreamingKg.narrowTriples(spark,
      Seq(stamped(0, 1), stamped(1, 2)).toDS())
      .filter(_.pred == "hasType").count()
    val w0 = rows.filter(r => r.getString(0) == "10:00" && r.getString(1) == "hasType")
      .map(_.getLong(2)).sum
    assert(w0 == batch)
  }

  test("flatMapGroupsWithState accumulates per-repo progress across batches") {
    val mem = MemoryStream[StampedFile](spark)
    val prog = StreamingKg.repoProgress(spark,
      StreamingKg.narrowTriples(spark, mem.toDS()))
    val q = prog.toDF().writeStream.format("memory").queryName("progress_out")
      .outputMode(OutputMode.Update()).start()
    // batch 1: one file of repo0; batch 2: the same repo again
    val f0 = stamped(0, 0) // repo0
    val f50 = stamped(50, 1) // repo0 again (50 % 50 == 0)
    mem.addData(f0)
    q.processAllAvailable()
    mem.addData(f50)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("progress_out")
      .as[StreamingKg.RepoProgress].collect().filter(_.repo == "repo0")
    assert(rows.length == 2, s"one update per micro-batch: $rows")
    val last = rows.maxBy(_.files)
    assert(last.files == 2)
    val perFileTriples = StreamingKg.narrowTriples(spark, Seq(f0).toDS()).count() +
      StreamingKg.narrowTriples(spark, Seq(f50).toDS()).count()
    assert(last.triples == perFileTriples)
  }

  test("streaming exact dedup: duplicate content within the watermark " +
      "horizon is suppressed, across micro-batches") {
    val mem = MemoryStream[StampedFile](spark)
    val f0 = stamped(0, 1)
    val dupSameBatch = f0.copy(path = "copy/a.md") // same content, new path
    val dupNextBatch = f0.copy(path = "copy/b.md",
      ts = Timestamp.valueOf("2026-01-01 10:03:00"))
    val distinct = stamped(1, 2)
    val q = StreamingKg.dedupedFiles(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(f0, dupSameBatch, distinct)
    q.processAllAvailable()
    mem.addData(dupNextBatch)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").as[StampedFile].collect()
    // one row per distinct content; the two copies are dropped even
    // though one arrived in a later micro-batch
    assert(out.length == 2, s"got: ${out.map(_.path).toSeq}")
    assert(out.map(f => graft.text.Text.sha256(f.content)).distinct.length == 2)
    assert(!out.exists(_.path.startsWith("copy/")))
  }

  test("text-analysis ops (langid/quality/PII) run unchanged on a stream " +
      "and match the batch result row-for-row") {
    // the training-data projections are narrow Catalyst expressions, so
    // the SAME function composes under readStream with no code changes —
    // the property that lets one pipeline definition serve both the
    // backfill (batch) and the live feed (streaming)
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the river bank."),
      (2L, "contact john.doe@example.com or call 555-123-4567 today"),
      (3L, "server 192.168.1.100 responded; el rapido zorro marron salta"),
      (4L, ""))
    def analyze(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.withPiiRedaction(
        TextAnalysis.withQuality(TextAnalysis.withLangId(df)))
        .select("doc_id", "lang_pred", "quality_score", "n_emails",
          "n_ips", "n_phones", "redacted")
    val batch = analyze(docs.toDF("doc_id", "text")).collect().toSet

    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(docs.take(2): _*)
    mem.addData(docs.drop(2): _*)
    val q = analyze(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("textops_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("textops_out").collect().toSet
    assert(streamed == batch)
    assert(batch.size == 4)
  }

  test("stratified sampling runs unchanged on a stream and matches the " +
      "batch sample row-for-row") {
    // membership is pure key arithmetic (no shuffle, no state), so the
    // SAME stratifiedSample call serves backfill and live feed — and the
    // micro-batch boundary cannot change the decision for any row
    import graft.ops.Sampling
    val rows = (0L until 400L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "fr"))
    def sample(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSample(df, "doc_id", "lang",
        Map("en" -> 100, "de" -> 500), defaultPermille = 900, salt = 7L)
    val batch = sample(rows.toDF("doc_id", "lang")).collect().toSet
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(rows.take(150): _*)
    mem.addData(rows.drop(150): _*) // split across micro-batches
    val q = sample(mem.toDS().toDF("doc_id", "lang"))
      .writeStream.format("memory").queryName("sample_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sample_out").collect().toSet
    assert(streamed == batch)
    // the strata rates actually bite: en ~10%, de ~50%, default ~90%
    val byLang = batch.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    assert(byLang("en") < 25 && byLang("de") > 30 && byLang("fr") > 70,
      s"per-stratum counts off: $byLang")
  }

  test("file sink with checkpoint: AvailableNow drains and commits exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[StampedFile](spark)
    mem.addData((20L until 26L).map(i => stamped(i, 3)): _*)
    val q = StreamingKg.startFileSink(spark, mem.toDS(),
      s"$dir/out", s"$dir/ckpt")
    q.awaitTermination(60000)
    val written = spark.read.parquet(s"$dir/out")
    val expected = StreamingKg.narrowTriples(spark,
      (20L until 26L).map(i => stamped(i, 3)).toDS()).count()
    assert(written.count() == expected)
    // restart with no new data: sink log prevents duplication
    val q2 = StreamingKg.startFileSink(spark, mem.toDS(), s"$dir/out", s"$dir/ckpt")
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$dir/out").count() == expected)
  }

  test("append-mode windowed counts: late rows DROP, windows finalize on watermark") {
    val mem = MemoryStream[StampedFile](spark)
    val counts = StreamingKg.windowedDistinctTripleCounts(
      StreamingKg.narrowTriples(spark, mem.toDS()),
      Seq("hasType", "hasDuration", "speculated", "hasEntity"))
    val q = counts.writeStream.format("memory").queryName("append_win_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: minutes 1 and 2 (window [00:00,05:00)) + minute 26 — the
    // 10-minute watermark lands at 16:00, far past the first window
    mem.addData(stamped(0, 1), stamped(1, 2), stamped(2, 26))
    q.processAllAvailable()
    // batch 2: a LATE row for the closed first window, content swapped so
    // accepting it would change counts
    val donor = Synth.sourceFile(5, 4)
    mem.addData(stamped(3, 2).copy(lang = donor.lang, content = donor.content))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    // batch 3: sentinel far ahead — finalizes the minute-26 window too
    mem.addData(stamped(4, 2).copy(
      ts = Timestamp.valueOf("2026-01-01 16:00:00"),
      path = "src/sentinel/file999999.md"))
    q.processAllAvailable()
    q.stop()
    assert(dropped > 0, "late rows must be dropped by the watermark")
    val rows = spark.sql(
      """SELECT date_format(window.start, 'HH:mm') AS ws, pred, n
        |FROM append_win_out""".stripMargin)
      .as[(String, String, Long)].collect()
    // both real windows emitted; the sentinel window never finalizes
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq("10:00", "10:25"))
    // counts equal the batch-side distinct derivation over batch-1 rows
    val batch = StreamingKg.narrowTriples(spark,
      Seq(stamped(0, 1), stamped(1, 2)).toDS())
      .filter(t => Seq("hasType", "hasDuration", "speculated",
        "hasEntity").contains(t.pred))
      .map(t => (t.subj, t.pred, t.obj)).distinct().count()
    assert(rows.filter(_._1 == "10:00").map(_._3).sum == batch)
  }

  test("q56 runs its stream without touching the caller session's conf") {
    // the caller's shuffle-partition count, read at every job start while
    // q56 runs, must be the value it had before — a concurrently planned
    // query on this session would otherwise inherit the stream's count
    val own = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try SparkEntry.queries("q56_stream_window")(spark, "unused").collect()
      finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.nonEmpty)
    assert(!seen.isEmpty)
    assert(seen.toArray.forall(_ == own), s"reads: ${seen.toArray.distinct.mkString(",")}; own: $own")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == own)
  }
}
