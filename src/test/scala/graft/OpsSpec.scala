package graft

import org.scalatest.funsuite.AnyFunSuite

/** The A8 timeline fit over relation rows. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("timeline fit: longest-path layering + min-max normalize per doc") {
    import graft.eval.Timeline
    val rels = Seq(
      ("r/p#L1:S0", 1, 2, "BEFORE"),
      ("r/p#L1:S0", 2, 3, "BEFORE"),
      ("r/p#L1:S0", 3, 4, "SIMULTANEOUS"),
      ("q/x#L2:S0", 7, 5, "AFTER")
    ).toDF("sentKey", "lAligned", "rAligned", "label")
    val t = Timeline.fitDocTimelines(spark, rels)
      .as[(String, String, Double)].collect()
      .map { case (d, e, v) => (d, e.split(":T").last.toInt) -> v }.toMap
    // doc r/p: chain T1 < T2 < T3 = T4 -> layers 0,1,2,2 -> norm 0,.5,1,1
    assert(t(("r/p", 1)) == 0.0)
    assert(t(("r/p", 2)) == 0.5)
    assert(t(("r/p", 3)) == 1.0)
    assert(t(("r/p", 4)) == 1.0)
    // doc q/x: AFTER(7,5) -> T5 before T7
    assert(t(("q/x", 5)) == 0.0)
    assert(t(("q/x", 7)) == 1.0)
    // cycle guard: contradictory BEFOREs terminate and stay in [0,1]
    val cyc = Seq(("c#L0:S0", 1, 2, "BEFORE"), ("c#L0:S0", 2, 1, "BEFORE"))
      .toDF("sentKey", "lAligned", "rAligned", "label")
    val tc = Timeline.fitDocTimelines(spark, cyc)
      .as[(String, String, Double)].collect()
    assert(tc.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }
}
