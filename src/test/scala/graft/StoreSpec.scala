package graft

import java.nio.file.{Files, Path}
import scala.util.Try

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

  def triplesOf(root: String, files: org.apache.spark.sql.Dataset[SourceFile]): Set[T6] =
    Pipeline.runCheckpointed(spark, files, root, Sig).as[T6].collect().toSet

  test("full run commits a manifest per stage with per-partition lineage") {
    val root = tmp()
    val t = triplesOf(root, Synth.corpus(spark, NFiles, Spf))
    assert(t.nonEmpty)
    for (stage <- Seq("sentences", "quarantine", "tagged", "events", "relations", "triples"))
      assert(Store.readManifest(root, stage).isDefined, s"manifest for $stage")
    val manifest = Files.readString(Store.manifestPath(root, "sentences"))
    assert(manifest.contains("\"lineage\""))
    assert(manifest.contains("\"partition\""))
    // per-partition metrics: non-zero bytes/files per repo=* partition,
    // and a stage wall time
    assert(manifest.contains("\"metrics\"") && manifest.contains("\"bytes\""))
    assert(manifest.contains("\"wall_sec\""))
    val metrics = Store.partitionMetrics(s"$root/sentences")
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
    // poisoned input: any recompute of the sentences stage would throw
    val poison = Synth.corpus(spark, NFiles, Spf)
      .map { f => require(false, "stage recomputed despite committed manifest"); f }
    val t2 = triplesOf(root, poison)
    assert(t1 == t2)
  }

  test("rerun resumes under an input signature holding a quote and a backslash") {
    // the manifest stores the signature escaped; a raw read-back never
    // matched it, so every rerun recomputed every stage
    val root = tmp()
    val sig = "in\\put\"x"
    val t1 = Pipeline.runCheckpointed(spark, Synth.corpus(spark, NFiles, Spf),
      root, sig).as[T6].collect().toSet
    assert(Store.readManifest(root, "sentences").map(_._1).contains(sig))
    val poison = Synth.corpus(spark, NFiles, Spf)
      .map { f => require(false, "stage recomputed despite committed manifest"); f }
    val t2 = Pipeline.runCheckpointed(spark, poison, root, sig)
      .as[T6].collect().toSet
    assert(t1 == t2)
  }

  test("kill-after-stage-k: deleting later snapshots resumes from last committed") {
    val root = tmp()
    val t1 = triplesOf(root, Synth.corpus(spark, NFiles, Spf))
    // simulate a crash after 'tagged': later stages uncommitted
    for (stage <- Seq("events", "relations", "triples")) {
      Files.delete(Store.manifestPath(root, stage))
      // data dir may remain (a torn write) — resume must overwrite it
    }
    val poison = Synth.corpus(spark, NFiles, Spf)
      .map { f => require(false, "resumed run must not rescan the input"); f }
    val t2 = triplesOf(root, poison)
    assert(t1 == t2, "resumed output must be identical")
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
    for (stage <- Seq("sentences", "quarantine", "tagged", "events",
        "relations", "triples"))
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
