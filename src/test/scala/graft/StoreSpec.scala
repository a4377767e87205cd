package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, explode}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Synth
import graft.kg.{Pipeline, Store, Triples}
import graft.model.SourceFile

/** Checkpoint/resume + quarantine semantics (north rule: "resumable from
  * checkpoint with per-partition lineage"; FIXTURES.md §4 resume case). */
class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val NFiles = 12L
  val Spf = 4
  val Sig = s"synth:$NFiles:$Spf"

  def tmp(): String = {
    val p = Files.createTempDirectory("graft-store")
    p.toString
  }

  def triplesOf(root: String, files: Dataset[SourceFile]): Set[T6] =
    Pipeline.runCheckpointed(spark, files, root, Sig).as[T6].collect().toSet

  /** Every triple row, duplicates kept, in one fixed order. */
  def rowsOf(triples: DataFrame): Seq[T6] =
    triples.as[T6].collect().toSeq
      .sortBy(t => (t.subj, t.pred, t.obj, t.repo, t.path, t.contentSha))

  /** The input with every row failing when read: a run over it must not
    * recompute any stage that reads the input. */
  def poisoned(files: Dataset[SourceFile]): Dataset[SourceFile] =
    files.map { f => require(false, "stage recomputed despite committed manifest"); f }

  val Stages = Seq("quarantine", "annotated", "triples")

  test("full run commits a manifest per stage with per-partition lineage") {
    val root = tmp()
    val t = triplesOf(root, Synth.corpus(spark, NFiles, Spf))
    assert(t.nonEmpty)
    for (stage <- Stages)
      assert(Store.readManifest(root, stage).isDefined, s"manifest for $stage")
    val manifest = Files.readString(Store.manifestPath(root, "annotated"))
    assert(manifest.contains("\"lineage\""))
    assert(manifest.contains("\"partition\""))
    // per-partition metrics: non-zero bytes/files per repo=* partition,
    // and a stage wall time
    assert(manifest.contains("\"metrics\"") && manifest.contains("\"bytes\""))
    assert(manifest.contains("\"wall_sec\""))
    val metrics = Store.partitionMetrics(s"$root/annotated")
    assert(metrics.nonEmpty && metrics.forall { case (p, f, b) =>
      p.startsWith("repo=") && f > 0 && b > 0 })
  }

  test("a committed build leaves no cached blocks behind") {
    // a long-lived session must not pile up storage per build: after the
    // build and a count over its triples, no RDD the build cached is left —
    // on the driver-local canonicalization path and on the distributed one
    for (maxLocalCCForms <- Seq(None, Some("0"))) {
      maxLocalCCForms.foreach(spark.conf.set("spark.graft.maxLocalCCForms", _))
      try {
        val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
        Pipeline.runCheckpointed(spark, Synth.corpus(spark, NFiles, Spf), tmp(), Sig)
          .count()
        val left = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
        assert(left.isEmpty, s"maxLocalCCForms=$maxLocalCCForms: " +
          left.map(i => s"${i.name} ${i.memSize} B").mkString("; "))
      } finally spark.conf.unset("spark.graft.maxLocalCCForms")
    }
  }

  test("rerun resumes every committed stage — compute closures never invoked") {
    val root = tmp()
    val t1 = triplesOf(root, Synth.corpus(spark, NFiles, Spf))
    // poisoned input: any recompute of a stage reading it would throw
    val t2 = triplesOf(root, poisoned(Synth.corpus(spark, NFiles, Spf)))
    assert(t1 == t2)
  }

  test("rerun resumes under an input signature holding a quote and a backslash") {
    // the manifest stores the signature escaped; a raw read-back never
    // matched it, so every rerun recomputed every stage
    val root = tmp()
    val sig = "in\\put\"x"
    val t1 = Pipeline.runCheckpointed(spark, Synth.corpus(spark, NFiles, Spf),
      root, sig).as[T6].collect().toSet
    assert(Store.readManifest(root, "annotated").map(_._1).contains(sig))
    val t2 = Pipeline.runCheckpointed(spark,
      poisoned(Synth.corpus(spark, NFiles, Spf)), root, sig)
      .as[T6].collect().toSet
    assert(t1 == t2)
  }

  test("readManifest reads back string fields hundreds of KB long") {
    // a real stage schema is a few KB; these fields are far longer, with
    // an escape every few characters, so a per-character recursive
    // match cannot pass on stack luck
    val root = tmp()
    val sig = "si\"g\\" * 60000
    val schema = "{\"type\":\"struct\"}" * 20000
    Store.writeManifest(root,
      Store.Manifest("long", sig, 7L, Seq("r" -> 7L), 0L, schema))
    assert(Store.readManifest(root, "long") == Some((sig, 7L, schema)))
  }

  test("kill-after-stage-k: deleting later snapshots resumes from last committed") {
    val root = tmp()
    val t1 = rowsOf(Pipeline.runCheckpointed(spark,
      Synth.corpus(spark, NFiles, Spf), root, Sig))
    // simulate a crash after 'annotated': the triples data dir remains (a
    // torn write) — resume must overwrite it
    Files.delete(Store.manifestPath(root, "triples"))
    val t2 = rowsOf(Pipeline.runCheckpointed(spark,
      poisoned(Synth.corpus(spark, NFiles, Spf)), root, Sig))
    assert(t1 == t2, "resumed output must be identical")
  }

  test("kill after quarantine: annotated and triples recompute, the " +
      "quarantine snapshot is kept") {
    val bad = Seq(SourceFile("badrepo", "bad/path.scala", "c0ffee", "scala", null)).toDS()
    val files = Synth.corpus(spark, NFiles, Spf).unionByName(bad)
    val root = tmp()
    val t1 = rowsOf(Pipeline.runCheckpointed(spark, files, root, Sig))
    val quarantine = Files.readString(Store.manifestPath(root, "quarantine"))
    for (stage <- Seq("annotated", "triples"))
      Files.delete(Store.manifestPath(root, stage))
    val t2 = rowsOf(Pipeline.runCheckpointed(spark, files, root, Sig))
    assert(t1 == t2, "resumed output must be identical")
    // a recompute rewrites the manifest (commit time, wall time)
    assert(Files.readString(Store.manifestPath(root, "quarantine")) == quarantine)
  }

  test("the annotated manifest records the exact event count, and a " +
      "resume from it gives the same triples") {
    val synth = Synth.corpus(spark, NFiles, Spf)
    val spf = Spf // a local, so the closure does not capture the suite
    val twoCommits = synth.unionByName(synth.map(f => f.copy(commit = "c2",
      content = Synth.contentFor(f.repo, f.path + ".v2", f.lang, spf))))
    val inputs = Seq("synth" -> synth,
      "hostile" -> AuditSpec.hostileFiles.toDS(), "twoCommits" -> twoCommits)
    for ((name, files) <- inputs) {
      val root = tmp()
      val t1 = rowsOf(Pipeline.runCheckpointed(spark, files, root, name))
      val events = spark.read.parquet(s"$root/annotated")
        .select(explode(col("events"))).count()
      assert(Store.readCount(root, "annotated", "events") == Some(events), name)
      Files.delete(Store.manifestPath(root, "triples"))
      val t2 = rowsOf(Pipeline.runCheckpointed(spark, poisoned(files), root, name))
      assert(t1 == t2, s"$name: resumed output must be identical")
    }
  }

  test("a cold committed build runs at most 20 Spark jobs") {
    // each stage commit runs the rebalance and write jobs and the two of
    // the lineage aggregate; committing sentences, tagged, events and
    // relations apart instead of one annotated stage ran 31 jobs here
    val sc = spark.sparkContext
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // the bus delivers events in order, so every job of the build arrives
    // between the two marker jobs
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("build-begin")
      Pipeline.runCheckpointed(spark, Synth.corpus(spark, NFiles, Spf), tmp(), Sig)
      marker("build-end")
      val jobs = Iterator.continually(Option(groups.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("no job event within 60 s")))
        .dropWhile(_ != "build-begin").drop(1).takeWhile(_ != "build-end").size
      assert(jobs <= 20, s"$jobs jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("input-signature mismatch forces recompute") {
    val root = tmp()
    val small = triplesOf(root, Synth.corpus(spark, NFiles, Spf))
    val bigger = Pipeline.runCheckpointed(spark,
      Synth.corpus(spark, NFiles * 2, Spf), root, s"synth:${NFiles * 2}:$Spf")
      .as[T6].collect().toSet
    assert(bigger.size > small.size)
  }

  test("quarantine captures per-record extraction failures without dropping the run") {
    val root = tmp()
    val good = Synth.corpus(spark, 4L, Spf)
    val bad = Seq(SourceFile("badrepo", "bad/path.scala", "c0ffee", "scala", null)).toDS()
    val files = good.unionByName(bad)
    val t = Pipeline.runCheckpointed(spark, files, root, "with-bad").as[T6].collect()
    assert(t.nonEmpty)
    val quarantine = spark.read.parquet(s"$root/quarantine")
    val rows = quarantine.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("repo") == "badrepo")
    assert(r.getAs[String]("stage") == "extract")
  }

  test("graft.Main (spark-submit entry): synth build commits all stages " +
      "and a rerun resumes from the manifests") {
    val root = tmp()
    val (n1, _) = Main.run(spark, s"synth:$NFiles:$Spf", root)
    for (stage <- Stages)
      assert(Store.readManifest(root, stage).isDefined, s"manifest $stage")
    assert(n1 > 0)
    // rerun: resumed output identical; manifests carry the metrics fields
    val (n2, _) = Main.run(spark, s"synth:$NFiles:$Spf", root)
    assert(n2 == n1)
    val m = Files.readString(Store.manifestPath(root, "triples"))
    assert(m.contains("\"metrics\"") && m.contains("\"wall_sec\""))
  }

  test("in-memory Triples.fromFiles and the committed build give the same " +
      "triple set") {
    // the Synth corpus, hostile content, and every Synth (repo, path)
    // again under a second commit with new content
    val synth = Synth.corpus(spark, NFiles, Spf)
    val spf = Spf // a local, so the closure does not capture the suite
    val twoCommits = synth.unionByName(synth.map(f => f.copy(commit = "c2",
      content = Synth.contentFor(f.repo, f.path + ".v2", f.lang, spf))))
    val inputs = Seq("synth" -> synth,
      "hostile" -> AuditSpec.hostileFiles.toDS(), "twoCommits" -> twoCommits)
    for ((name, files) <- inputs) {
      val inMemory = Triples.fromFiles(spark, files).as[T6].collect().toSet
      val committed = Pipeline.runCheckpointed(spark, files, tmp(), name)
        .distinct().as[T6].collect().toSet
      assert(inMemory.nonEmpty, name)
      assert(inMemory == committed, s"$name: in-memory only " +
        s"${(inMemory -- committed).take(3)}, committed only " +
        s"${(committed -- inMemory).take(3)}")
    }
  }
}
