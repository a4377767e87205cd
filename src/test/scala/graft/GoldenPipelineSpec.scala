package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Synth
import graft.gold.GoldDeriver
import graft.kg.{Pipeline, Triples}
import graft.text.Text
import graft.T6

/** The correctness gate of the north rule: triple-level P/R ≥ 0.95 vs the
  * independently derived golden triple set, per-row content sha256
  * equality, and partitioning-independence of the output (validity
  * precondition of the two-parallelism scaling benchmark). */
class GoldenPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val NFiles = 48L
  val Spf = 6

  lazy val pipelineTriples: Set[T6] = {
    val files = Synth.corpus(spark, NFiles, Spf)
    Triples.emit(spark, Pipeline.annotate(spark, files)).as[T6].collect().toSet
  }

  lazy val goldTriples: Set[T6] =
    GoldDeriver.goldTriples(NFiles, Spf).map(g =>
      T6(g.subj, g.pred, g.obj, g.repo, g.path, g.contentSha))

  test("triple P/R >= 0.95 vs golden derivation (north rule)") {
    val tp = (pipelineTriples intersect goldTriples).size.toDouble
    val precision = tp / pipelineTriples.size
    val recall = tp / goldTriples.size
    info(f"triples: pipeline=${pipelineTriples.size} gold=${goldTriples.size} " +
      f"P=$precision%.4f R=$recall%.4f")
    if (precision < 1.0 || recall < 1.0) {
      val fp = (pipelineTriples -- goldTriples).take(5)
      val fn = (goldTriples -- pipelineTriples).take(5)
      info(s"sample false-positives: ${fp.mkString("\n  ", "\n  ", "")}")
      info(s"sample false-negatives: ${fn.mkString("\n  ", "\n  ", "")}")
    }
    assert(precision >= 0.95, "precision below north-rule bound")
    assert(recall >= 0.95, "recall below north-rule bound")
  }

  test("per-row content sha256 invariant (BASELINE.json input_hint)") {
    val expected = (0L until NFiles).map { i =>
      val f = Synth.sourceFile(i, Spf)
      (f.repo, f.path) -> Text.sha256(f.content)
    }.toMap
    assert(pipelineTriples.nonEmpty)
    for (t <- pipelineTriples)
      assert(t.contentSha == expected((t.repo, t.path)),
        s"sha mismatch for ${t.repo}/${t.path}")
  }

  test("output is independent of input partitioning (determinism under parallelism)") {
    val files1 = Synth.corpus(spark, 12L, Spf).repartition(1)
    val files16 = Synth.corpus(spark, 12L, Spf).repartition(16)
    val t1 = Triples.fromFiles(spark, files1).as[T6].collect().toSet
    val t16 = Triples.fromFiles(spark, files16).as[T6].collect().toSet
    assert(t1 == t16)
  }

  test("reference-loss timeline fit: distributed engine == independent mirror") {
    // identical input (the gold triple set) through both implementations:
    // TimelineFit.fitFromTriples (one-shuffle mapGroups) vs
    // GoldDeriver.goldTimelines (straight-line per-doc mirror). Doubles
    // must agree bit-for-bit after the shared 4-decimal rounding — any
    // op-order divergence between the two optimizers, or partition
    // nondeterminism in the distributed one, fails here before the
    // driver's q47 hash would
    val goldDf = goldTriples.toSeq.toDF(
      "subj", "pred", "obj", "repo", "path", "contentSha")
    val engine = graft.eval.TimelineFit.fitFromTriples(spark, goldDf)
      .as[(String, String, Double, Double)].collect().toSet
    val mirror = GoldDeriver.goldTimelines(NFiles, Spf).toSet
    assert(engine.nonEmpty, "fit produced no timelines")
    val onlyEngine = engine -- mirror
    val onlyMirror = mirror -- engine
    assert(onlyEngine.isEmpty && onlyMirror.isEmpty,
      s"engine-only: ${onlyEngine.take(3)}; mirror-only: ${onlyMirror.take(3)}")
    // anchoring invariants (run_model.py:146-150): start >= 0, dur >= 0,
    // every doc has at least one anchored-at-zero predicate
    assert(engine.forall(r => r._3 >= 0.0 && r._4 >= 0.0))
    val anchored = engine.groupBy(_._1).forall(_._2.exists(_._3 == 0.0))
    assert(anchored, "some doc lost its zero-anchored predicate")
  }

  test("branch-level dedup in Triples.fromFiles equals the global triple SET") {
    // the distinct snapshot dedups only the two branches that can repeat
    // (arg + entity triples); this pins that shortcut to exact global
    // set semantics — any branch that ever grows duplicate rows fails here
    val files = Synth.corpus(spark, NFiles, Spf)
    val branchDedup = Triples.fromFiles(spark, files)
      .as[T6].collect().toSet
    assert(branchDedup == pipelineTriples) // pipelineTriples is set(emit)
  }

  test("flagship entry returns nonempty aggregate") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("lineage columns present on every triple family") {
    val preds = pipelineTriples.groupBy(_.pred)
    for ((_, ts) <- preds; t <- ts.take(3)) {
      assert(t.repo.nonEmpty && t.path.nonEmpty && t.contentSha.length == 64)
    }
  }
}
