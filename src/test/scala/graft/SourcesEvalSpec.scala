package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.sources.Sources

class SourcesEvalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val annJson =
    """{"tokens":["Yesterday","George","Pataki","toured","Baghdad","."],
      |"events":[{"event_type":"Movement:Transport",
      |  "triggers":[{"event_type":"Movement:Transport","text":"toured","start_token":3,"end_token":3}],
      |  "arguments":[{"role":"Agent","text":"George Pataki","start_token":1,"end_token":2}],
      |  "duration":"days","speculation":false}],
      |"ner":[["1","2","PER"],["4","4","GPE"]],
      |"relations":[],
      |"line_num":0,"sen_num":0,
      |"sentence":"Yesterday George Pataki toured Baghdad."}""".stripMargin.replace("\n", "")

  test("S3: schema'd JSON annotation parse + events×triggers explode") {
    val df = Sources.parseAnnotation(Seq(annJson).toDF("js"), "js").select("ann.*")
    assert(df.select(size(col("tokens"))).head().getInt(0) == 6)
    val trig = Sources.explodeTriggerRows(df).collect()
    assert(trig.length == 1)
    val r = trig.head
    assert(r.getAs[String]("trigger_text") == "toured")
    assert(r.getAs[Int]("root_idx") == 3)
    assert(r.getAs[String]("duration") == "days")
  }

  test("S5: CSV sink round-trips") {
    val dir = tempDir("graft-csv").toString
    val df = Seq((1L, "days", 0.9), (2L, "hours", 0.5)).toDF("id", "pred", "p")
    Sources.writeCsv(df, s"$dir/preds")
    val back = spark.read.option("header", "true").csv(s"$dir/preds")
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "pred", "p"))
  }

  test("A5/J7: strict span P/R/F1") {
    val gold = Seq(("s1", 1, 2, "PER"), ("s1", 4, 4, "GPE"), ("s2", 0, 1, "ORG"))
      .toDF("key", "start", "end", "label")
    val pred = Seq(("s1", 1, 2, "PER"), ("s1", 4, 4, "LOC"), ("s2", 0, 1, "ORG"),
      ("s2", 3, 3, "PER")).toDF("key", "start", "end", "label")
    val r = Eval.spanPRF(pred, gold).head()
    assert(r.getAs[Long]("n_corr") == 2)
    assert(r.getAs[Long]("n_pred") == 4)
    assert(r.getAs[Long]("n_true") == 3)
    assert(math.abs(r.getAs[Double]("precision") - 0.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("recall") - 2.0 / 3) < 1e-9)
    // span-only match ignores the PER/LOC label clash
    val r2 = Eval.spanPRF(pred, gold, matchLabel = false).head()
    assert(r2.getAs[Long]("n_corr") == 3)
  }

  test("J7 distributed: spanPRFByKey matches per-group spanPRF, handles " +
      "pred-only and gold-only groups") {
    val gold = Seq(("c1", "s1", 1, 2, "PER"), ("c1", "s1", 4, 4, "GPE"),
      ("c1", "s2", 0, 1, "ORG"), ("c2", "s9", 5, 6, "PER"),
      ("c3", "s3", 2, 2, "GPE")) // c3: gold-only group (no predictions)
      .toDF("grp", "key", "start", "end", "label")
    val pred = Seq(("c1", "s1", 1, 2, "PER"), ("c1", "s1", 4, 4, "LOC"),
      ("c1", "s2", 0, 1, "ORG"), ("c1", "s2", 3, 3, "PER"),
      ("c2", "s9", 5, 6, "PER"), ("c2", "s9", 5, 6, "PER"), // dup collapses
      ("c4", "s7", 0, 0, "ORG")) // c4: pred-only group (no gold)
      .toDF("grp", "key", "start", "end", "label")
    val by = Eval.spanPRFByKey(pred, gold, Seq("grp"),
        Seq("key", "start", "end", "label"))
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(by.keySet == Set("c1", "c2", "c3", "c4"))
    // c1 agrees with the single-pair harness on the same data
    val solo = Eval.spanPRF(
      pred.filter(col("grp") === "c1").drop("grp"),
      gold.filter(col("grp") === "c1").drop("grp")).head()
    val c1 = by("c1")
    for (f <- Seq("n_corr", "n_pred", "n_true"))
      assert(c1.getAs[Long](f) == solo.getAs[Long](f), f)
    for (f <- Seq("precision", "recall", "f1"))
      assert(math.abs(c1.getAs[Double](f) - solo.getAs[Double](f)) < 1e-12, f)
    // c2: duplicate prediction counted once -> perfect
    assert(by("c2").getAs[Long]("n_pred") == 1)
    assert(by("c2").getAs[Double]("f1") == 1.0)
    // gold-only: recall 0, precision 0 (no preds), f1 0 -- not NaN
    assert(by("c3").getAs[Long]("n_pred") == 0)
    assert(by("c3").getAs[Double]("f1") == 0.0)
    // pred-only: precision 0 (no gold), f1 0 -- not NaN
    assert(by("c4").getAs[Long]("n_true") == 0)
    assert(by("c4").getAs[Double]("f1") == 0.0)
  }

  test("weighted F1 excludes VAGUE/NONE like the MATRES scorer") {
    val pairs = Seq(
      ("BEFORE", "BEFORE"), ("BEFORE", "AFTER"), ("AFTER", "AFTER"),
      ("VAGUE", "BEFORE"), ("NONE", "NONE")).toDF("gold", "pred")
    val f1 = Eval.weightedF1(pairs)
    // BEFORE: p=1/2(pred BEFORE on non-excluded gold: BEFORE:1 of preds {BEFORE,BEFORE->1 corr of 1 kept? }...)
    assert(f1 > 0.0 && f1 <= 1.0)
    val perfect = Seq(("BEFORE", "BEFORE"), ("AFTER", "AFTER")).toDF("gold", "pred")
    assert(math.abs(Eval.weightedF1(perfect) - 1.0) < 1e-9)
  }

  test("confusion matrix crosstab has gold rows x pred columns") {
    val pairs = Seq(("a", "a"), ("a", "b"), ("b", "b")).toDF("gold", "pred")
    val ct = Eval.confusion(pairs).collect()
    assert(ct.length == 2)
  }

  test("A8: row-wise min-max normalization") {
    val df = Seq((1L, Seq(2.0, 4.0, 6.0)), (2L, Seq(5.0, 5.0))).toDF("id", "tl")
    val out = Eval.minMaxNormalize(df, "tl").orderBy("id")
      .select("tl_norm").as[Seq[Double]].collect()
    assert(out(0) == Seq(0.0, 0.5, 1.0))
    assert(out(1) == Seq(0.0, 0.0)) // zero span -> zeros
  }
}
