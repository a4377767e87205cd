package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kg.Pipeline

/** K3's batching policy, value-checked (batchPadPlan — the driver-visible
  * companion of the narrow sortWithinPartitions inside tagStage), and the
  * whitespace token count q55 batches by. */
class BatchPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkDf(lens: Seq[Int]) =
    lens.zipWithIndex.map { case (l, i) => (i.toLong, l.toLong) }
      .toDF("ord", "len")

  test("batches are full except the last per group, and waste is n*max-sum") {
    val df = mkDf(Seq(5, 9, 1, 7, 7, 3, 2, 9, 4, 8, 6))
      .withColumn("grp", col("ord") % 2)
    val plan = Pipeline.batchPadPlan(df, col("grp"), col("len"),
        col("ord"), batchSize = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // grp 0: ords 0,2,4,6,8,10 → lens 5,1,7,2,4,6 sorted desc: 7,6,5,4,2,1
    assert(plan((0L, 0L)) == ((3L, 7L, 18L, 3L)))  // 7,6,5: 21-18
    assert(plan((0L, 1L)) == ((3L, 4L, 7L, 5L)))   // 4,2,1: 12-7
    // grp 1: ords 1,3,5,7,9 → lens 9,7,3,9,8 sorted desc: 9,9,8,7,3
    assert(plan((1L, 0L)) == ((3L, 9L, 26L, 1L)))  // 9,9,8
    assert(plan((1L, 1L)) == ((2L, 7L, 10L, 4L)))  // 7,3
  }

  test("length-desc batching never pads worse than arrival-order batching") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val lens = Seq.fill(50)(rnd.nextInt(100))
      val sorted = Pipeline.batchPadPlan(
        mkDf(lens).withColumn("grp", lit(0L)),
        col("grp"), col("len"), col("ord"), batchSize = 8)
        .agg(sum("pad_waste")).as[Long].head()
      // arrival-order plan: same formula, batches by ord
      val arrival = lens.grouped(8)
        .map(b => b.size.toLong * b.max - b.map(_.toLong).sum).sum
      assert(sorted <= arrival, s"trial $trial: $sorted > $arrival")
    }
  }

  test("ties break deterministically on ord (stable plan across runs)") {
    val df = mkDf(Seq(5, 5, 5, 5, 5)).withColumn("grp", lit(0L))
    val a = Pipeline.batchPadPlan(df, col("grp"), col("len"), col("ord"), 2)
      .orderBy("batch_id").as[(Long, Long, Long, Long, Long, Long)].collect()
    val b = Pipeline.batchPadPlan(df.repartition(7), col("grp"), col("len"),
        col("ord"), 2)
      .orderBy("batch_id").as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(a.sameElements(b))
    assert(a.map(_._3).toSeq == Seq(2L, 2L, 1L))
  }

  test("wsTokens: a six-word sentence, empty text, punctuation-only text") {
    val got = Seq((1L, "The cat sat on the mat."), (2L, ""), (3L, "!!! ??? ..."))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Pipeline.wsTokens(col("text")))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 6, 2L -> 0, 3L -> 3))
  }
}
