package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Probe.{Isolate, Plans, Timeline}

/** `Probe`'s command line, parsed without a session. */
class ProbeSpec extends AnyFunSuite {
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

  test("timeline: defaults, committed flag, malformed numbers; unknown mode") {
    assert(Probe.parse(Seq("timeline"), Map.empty) == Right(Timeline(32, 24000, false)))
    assert(Probe.parse(Seq("timeline", "4", "400", "committed"), Map.empty) ==
      Right(Timeline(4, 400, true)))
    assert(Probe.parse(Seq("timeline", "four"), Map.empty).isLeft)
    assert(Probe.parse(Seq("bench"), env) == Left(Probe.Usage))
    assert(Probe.parse(Nil, env) == Left(Probe.Usage))
  }
}
