package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Synth
import graft.kg.Triples
import graft.model.SourceFile

/** integrityAudit (q58): clean pipeline output audits empty; each planted
  * violation class is caught, and nothing else rides along. */
class AuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("clean pipeline triples audit to zero violations") {
    val tri = Triples.fromFiles(spark, Synth.corpus(spark, 40L, 6))
    assert(Triples.integrityAudit(tri).isEmpty)
  }

  test("each violation class is caught exactly once on planted rows") {
    val planted = Seq(
      ("a#L1:S0:T1", "BEFORE", "a#L2:S0:T2"),
      ("a#L1:S0:T1", "hasDuration", "eons"),
      ("a#L1:S0:T1", "speculated", "false"),
      ("x1", "sameAs", "x2"), ("x2", "sameAs", "x3"),
      ("doc", "hasEntity", "ROBOT:r2d2"),
      // and clean rows that must NOT be flagged
      ("a#L1:S0:T1", "BEFORE", "a#L1:S0:T9"),
      ("a#L1:S0:T1", "hasDuration", "days"),
      ("a#L1:S0:T1", "speculated", "true"),
      ("y1", "sameAs", "y9"),
      ("doc", "hasEntity", "PER:Mary Jones")
    ).toDF("subj", "pred", "obj")
    val got = Triples.integrityAudit(planted)
      .as[(String, String, String, String)].collect().toSet
    assert(got == Set(
      ("rel_cross_sentence", "a#L1:S0:T1", "BEFORE", "a#L2:S0:T2"),
      ("bad_duration_class", "a#L1:S0:T1", "hasDuration", "eons"),
      ("bad_speculation_flag", "a#L1:S0:T1", "speculated", "false"),
      ("sameas_not_flattened", "x1", "sameAs", "x2"),
      ("bad_entity_label", "doc", "hasEntity", "ROBOT:r2d2")))
  }

  test("hostile content survives the full pipeline: clean audit, escaped RDF, lineage intact") {
    // the pipeline must not crash, must audit clean, and the N-Triples
    // sink must leave no raw control characters in its serialized lines
    val hostile = AuditSpec.hostileFiles.toDS()
    val tri = Triples.fromFiles(spark, hostile)
    tri.count() // materializes without throwing
    assert(Triples.integrityAudit(tri).isEmpty)
    // every emitted triple keeps its lineage stamp
    assert(tri.filter(col("contentSha").isNull ||
      length(col("contentSha")) =!= 64).isEmpty)
    // serialized N-Triples lines carry no raw tab/newline/CR and
    // balanced quoting survives hostile quotes in object literals
    val lines = Triples.toNTriples(tri).as[String].collect()
    assert(lines.forall(l => !l.exists(c => c == '\t' || c == '\n' || c == '\r')))
    assert(lines.forall(l => l.endsWith("\" .") || l.endsWith("> .")))
  }
}

object AuditSpec {
  /** Content a real source-code corpus throws at an ingester: tabs, CRLF,
    * unicode quotes, an empty file, a single huge line, and a normal
    * sentence as the control. */
  val hostileFiles: Seq[SourceFile] = Seq(
    SourceFile("r0", "a/tabs.py", "c0", "py",
      "# The\tmeeting\thappened\tbefore\tthe\tattack.\n"),
    SourceFile("r0", "b/crlf.go", "c1", "go",
      "// The war ended.\r\n// Then the talks began.\r\n"),
    SourceFile("r0", "c/uni.rs", "c2", "rs",
      "// “The strike” lasted days — maybe weeks."),
    SourceFile("r0", "d/empty.md", "c3", "md", ""),
    SourceFile("r0", "e/huge.c", "c4", "c",
      "// " + Seq.fill(500)("word").mkString(" ") + " attack ."),
    SourceFile("r0", "f/ctrl.js", "c5", "js",
      "// before\u0000after the \"election\" ended.")
  )
}
