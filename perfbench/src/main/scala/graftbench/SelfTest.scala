package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.Synth

/** Self-tests of the benchmark's own helpers: digest order-independence
  * and seeded corpus determinism, including the hot-repo remap. Returns
  * the failed assertions. */
object SelfTest {

  def run(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val bad = Seq.newBuilder[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) bad += what

    // digest: independent of row order and partitioning, sensitive to
    // content and to multiplicity
    val rows = (0 until 500).map(i => (s"s${i % 37}", s"p${i % 5}", s"o$i"))
    val a = rows.toDF(Checks.TripleCols: _*)
    val d = Checks.tripleDigest(a)
    expect(Checks.tripleDigest(rows.reverse.toDF(Checks.TripleCols: _*).repartition(7)) == d,
      "digest changes with row order or partitioning")
    expect(Checks.tripleDigest(a.orderBy(col("obj").desc).coalesce(1)) == d,
      "digest changes with sort order")
    expect(Checks.tripleDigest(rows.updated(3, ("s3", "p3", "o4")).toDF(Checks.TripleCols: _*)) != d,
      "digest misses a changed row")
    expect(Checks.tripleDigest(a.union(a.limit(1))) != d, "digest misses a duplicated row")
    expect(Checks.tripleDigest(Seq(("ab", "c", "d")).toDF(Checks.TripleCols: _*)) !=
      Checks.tripleDigest(Seq(("a", "bc", "d")).toDF(Checks.TripleCols: _*)),
      "digest ignores column boundaries")

    // corpus: a seed fixes the inputs; seeds give disjoint index ranges
    val hot = Corpus.hotRepo(3)
    val gen1 = Corpus.files(spark, Corpus.startIndex(3), 200, Some(hot)).collect().toSeq
    val gen2 = Corpus.files(spark, Corpus.startIndex(3), 200, Some(hot)).collect().toSeq
    expect(gen1 == gen2, "same seed gives different files")
    expect(Corpus.hotRepo(3) == hot, "hot repo is not a function of the seed")
    val other = Corpus.files(spark, Corpus.startIndex(4), 200, None).collect().map(_.path).toSet
    expect(gen1.map(_.path).toSet.intersect(other).isEmpty, "seeds 3 and 4 share files")
    val uniform = Corpus.files(spark, 0, 200, None).collect().toSeq
    expect(uniform == (0L until 200L).map(i => Synth.sourceFile(i, Corpus.SentsPerFile)),
      "seed 0 uniform files differ from Synth.sourceFile")
    expect(uniform.groupBy(_.repo).values.map(_.size).toSet == Set(4),
      "uniform files are not spread evenly over 50 repos")

    // hot remap: 85 % of indices move into the hot repo with regenerated
    // content; the rest stay exactly Synth's files
    val first = Corpus.startIndex(3)
    val (moved, kept) = gen1.zipWithIndex.partition { case (_, k) => Corpus.isHot(first + k) }
    expect(moved.size == 170, s"hot remap moved ${moved.size} of 200 files, expected 170")
    expect(moved.forall { case (f, _) =>
        f.repo == hot && f.content == Synth.contentFor(hot, f.path, f.lang, Corpus.SentsPerFile) },
      "a hot file is not regenerated for the hot repo")
    expect(kept.forall { case (f, k) => f == Synth.sourceFile(first + k, Corpus.SentsPerFile) },
      "a cold file differs from Synth.sourceFile")
    expect(gen1.count(_.repo == hot).toDouble / gen1.size >= 0.85,
      "hot repo holds under 85 % of the files")
    bad.result()
  }
}
