package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Synth
import graft.kg.{Pipeline, Triples}
import graft.link.SkewJoin

/** Skew handling under the adversarial hot-lemma distribution the corpus
  * plants by construction (Synth.SkewFraction = 25% of trigger draws forced
  * to "attack"; SURVEY.md §7.4 item 3). */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join == plain join on a skewed key distribution") {
    // 10k rows, 80% on one hot key
    val skewed = spark.range(10000)
      .select(when(col("id") % 5 < 4, lit("hot")).otherwise(concat(lit("k"), col("id") % 7)).as("k"),
        col("id").as("payload"))
    val dim = Seq(("hot", 1), ("k0", 2), ("k1", 3), ("k2", 4), ("k3", 5),
      ("k4", 6), ("k5", 7), ("k6", 8)).toDF("k", "v")
    val plain = skewed.join(dim, Seq("k"))
      .select("k", "payload", "v").as[(String, Long, Int)].collect().toSet
    val salted = SkewJoin.saltedJoin(skewed, dim, "k", salts = 8,
      saltSource = Seq("payload"))
      .select("k", "payload", "v").as[(String, Long, Int)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._1 == "hot") == 8000)
  }

  test("corpus hot lemma is actually hot, and the pipeline still balances") {
    val files = Synth.corpus(spark, 40L, 6)
    val annotated = Pipeline.annotatedStage(spark, Pipeline.sentences(spark, files))
      .toDF()
    val byLemma = annotated.select(explode(col("events")).as("e"))
      .select("e.*").filter(col("eventType") =!= "")
      .groupBy("trigLemma").count().orderBy(col("count").desc)
      .as[(String, Long)].collect()
    val total = byLemma.map(_._2).sum.toDouble
    assert(byLemma.head._1 == Synth.HotLemma)
    assert(byLemma.head._2 / total > 0.15, "hot lemma should dominate")
    // sameAs linking under skew: every non-canonical hot event links to
    // exactly one canonical id per (repo, lemma, type) block
    val triples = Triples.materialize(spark, annotated, distinct = false)
    val sameAs = triples.filter(col("pred") === "sameAs")
    val fanIn = sameAs.groupBy("obj").count()
    assert(fanIn.count() > 0)
    // a canonical id never appears as a subject of sameAs (it IS the root)
    val roots = sameAs.select(col("obj").as("id")).distinct()
    val subjects = sameAs.select(col("subj").as("id")).distinct()
    assert(roots.join(subjects, Seq("id"), "left_semi").count() == 0)
  }

  test("salted LEFT join preserves unmatched rows (rewrite path)") {
    val big = Seq(("r", "alpha", 1L), ("r", "beta", 2L), ("r", "gamma", 3L))
      .toDF("repo", "text", "payload")
    val map = Seq(("r", "alpha", "ALPHA"), ("r", "beta", "BETA"))
      .toDF("repo", "text", "canonical")
    val out = SkewJoin.saltedJoin(big, map, Seq("repo", "text"), salts = 4,
      saltSource = Seq("payload"), joinType = "left")
      .select("text", "canonical").as[(String, Option[String])]
      .collect().toMap
    assert(out == Map("alpha" -> Some("ALPHA"), "beta" -> Some("BETA"),
      "gamma" -> None))
  }

  test("broadcast gate forced off: salted path emits IDENTICAL triples") {
    val files = Synth.corpus(spark, 30L, 5)
    def run(): Set[String] =
      Triples.materialize(spark,
        Pipeline.annotatedStage(spark, Pipeline.sentences(spark, files)).toDF(),
        distinct = false)
        .select(concat_ws("\u0001", col("subj"), col("pred"), col("obj")))
        .as[String].collect().toSet
    val viaBroadcast = run()
    spark.conf.set("spark.graft.maxBroadcastRows", "0")
    try {
      val viaSalted = run()
      assert(viaSalted == viaBroadcast,
        s"diff: ${(viaSalted diff viaBroadcast).take(3)} / " +
          s"${(viaBroadcast diff viaSalted).take(3)}")
    } finally spark.conf.unset("spark.graft.maxBroadcastRows")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (the no-salt fallback)") {
    // The engine salts its own hot joins (saltedJoin above); everything
    // ELSE relies on AQE's OptimizeSkewedJoin. Pin that the reliance is
    // real: a 90%-one-key join, thresholds scaled to test size, must
    // show a skew-split AQEShuffleRead in the executed plan AND return
    // exactly the plain-join rows.
    val cf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> cf.getOption(k))
    try {
      cf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      cf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      cf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      cf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val fact = spark.range(200000)
        .select(when(col("id") % 10 < 9, lit("hot"))
          .otherwise(concat(lit("k"), col("id") % 97)).as("k"),
          col("id").as("payload"))
      val dim = spark.range(200)
        .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
        .unionByName(Seq(("hot", -1L)).toDF("k", "v"))
      val joined = fact.join(dim, Seq("k"))
      // materialize THIS frame's QueryExecution (count() would plan its
      // own tree and leave joined's adaptive plan unexecuted)
      val n = joined.queryExecution.toRdd.count()
      assert(n == 200000L) // dim covers every fact key exactly once
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("AQEShuffleRead"), s"no AQE read in:\n$planStr")
      assert(planStr.toLowerCase.contains("skew"),
        s"no skew split in executed plan:\n$planStr")
    } finally saved.foreach {
      case (k, Some(v)) => cf.set(k, v)
      case (k, None) => cf.unset(k)
    }
  }
}
