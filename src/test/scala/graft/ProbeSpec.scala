package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Probe.{Isolate, Plans, Timeline}

/** `Probe`'s command line, parsed without a session, and `plans` run
  * over a query that fails. */
class ProbeSpec extends AnyFunSuite with TempDirs {
  private val env = Map("SPARK_GRAFT_SF_DIR" -> "sf", "SPARK_GRAFT_CPUS" -> "8")

  test("isolate: the rep count is optional ahead of the query names") {
    assert(Probe.parse(Seq("isolate", "kg_triples_by_pred"), env) ==
      Right(Isolate("sf", 8, 2, Seq("kg_triples_by_pred"))))
    assert(Probe.parse(Seq("isolate", "3", "kg_triples_by_pred"), env) ==
      Right(Isolate("sf", 8, 3, Seq("kg_triples_by_pred"))))
    assert(Probe.parse(Seq("isolate"), env) == Right(Isolate("sf", 8, 2, Nil)))
    assert(Probe.parse(Seq("isolate", "kg_triples_by_pred"), Map.empty).isLeft,
      "isolate reads its sf dir from the environment")
  }

  test("plans: defaults, and positional sfDir, outFile and queries") {
    assert(Probe.parse(Seq("plans"), env) ==
      Right(Plans("sf", "/tmp/plans.txt", Probe.AuditedQueries)))
    assert(Probe.parse(Seq("plans", "d", "o.txt", "kg_bgp", "kg_truss"), Map.empty) ==
      Right(Plans("d", "o.txt", Seq("kg_bgp", "kg_truss"))))
    assert(Probe.parse(Seq("plans"), Map.empty).isLeft)
    assert(Probe.AuditedQueries.forall(SparkEntry.queries.contains))
  }

  test("plans and isolate reject unknown query names before any session") {
    assert(Probe.parse(Seq("isolate", "3", "kg_triples_by_pred", "bogus"), env) ==
      Left("unknown queries: bogus"))
    assert(Probe.parse(Seq("plans", "d", "o.txt", "bogus", "kg_bgp", "nope"), env) ==
      Left("unknown queries: bogus, nope"))
  }

  test("plans: a failing query gets a FAILED section and the file is still written") {
    // q55 reads documents.parquet, which this dir lacks; kg_triples_by_pred
    // synthesizes its corpus from the dir name alone (sf0.001's 60 files)
    val dir = tempDir("probe_sf0.001_")
    val out = dir.resolve("plans.txt")
    Probe.plans(TestSpark.spark, Plans(dir.toString, out.toString,
      Seq("q55_batch_plan", "kg_triples_by_pred")))
    val text = Files.readString(out)
    val failed = text.indexOf("===== q55_batch_plan =====\nFAILED: ")
    val planned = text.indexOf("===== kg_triples_by_pred =====\n")
    assert(failed >= 0 && planned > failed, text.take(600))
    assert(text.substring(planned).contains("Physical Plan"), text.take(600))
  }

  test("timeline: defaults, malformed numbers, extra words; unknown mode") {
    assert(Probe.parse(Seq("timeline"), Map.empty) == Right(Timeline(32, 24000)))
    assert(Probe.parse(Seq("timeline", "4", "400"), Map.empty) == Right(Timeline(4, 400)))
    assert(Probe.parse(Seq("timeline", "4", "400", "committed"), Map.empty) ==
      Left(Probe.Usage))
    assert(Probe.parse(Seq("timeline", "four"), Map.empty).isLeft)
    assert(Probe.parse(Seq("bench"), env) == Left(Probe.Usage))
    assert(Probe.parse(Nil, env) == Left(Probe.Usage))
  }
}
