package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.Synth
import graft.model.SourceFile

/** Seeded inputs. A seed picks a disjoint `Synth.sourceFile` index range
  * (and, for the hot-repo shape, the hot repo); everything else is a pure
  * function of the file index, so the same seed always yields the same
  * source table. */
object Corpus {

  val SentsPerFile = 8

  /** Index ranges of different seeds never overlap below this many files. */
  val SeedStride = 1000000L

  def startIndex(seed: Long): Long = seed * SeedStride

  /** The hot repo of a seed: one of Synth's 50 round-robin repos. */
  def hotRepo(seed: Long): String = Synth.repoOf(Math.floorMod(seed * 7 + 3, 50L))

  /** 17 of every 20 consecutive indices (85 %) move into the hot repo. */
  def isHot(i: Long): Boolean = Math.floorMod(i, 20L) < 17

  def uniformFile(i: Long): SourceFile = Synth.sourceFile(i, SentsPerFile)

  /** The hot-repo remap: a hot index keeps its path and language but its
    * repo becomes `hot` and its content is regenerated for that repo, so
    * per-(repo, block) canonicalization blocks get hot too. */
  def hotFile(i: Long, hot: String): SourceFile = {
    val f = uniformFile(i)
    if (!isHot(i)) f
    else f.copy(repo = hot,
      commit = f"${Synth.fileSeed(hot, f.path) & Long.MaxValue}%016x",
      content = Synth.contentFor(hot, f.path, f.lang, SentsPerFile))
  }

  def file(hot: Option[String])(i: Long): SourceFile =
    hot.fold(uniformFile(i))(h => hotFile(i, h))

  /** `n` files from index `first`, generated on the executors. */
  def files(spark: SparkSession, first: Long, n: Long,
      hot: Option[String]): Dataset[SourceFile] = {
    import spark.implicits._
    val gen = file(hot) _
    spark.range(first, first + n).map(i => gen(i))
  }

  /** Writes the north-rule source table `(repo, path, commit, lang,
    * content)` as parquet. */
  def writeTable(spark: SparkSession, first: Long, n: Long,
      hot: Option[String], path: String): Unit =
    files(spark, first, n, hot).write.mode("overwrite").parquet(path)

  /** The source table read back the way `graft.Main` reads it. */
  def read(spark: SparkSession, path: String): Dataset[SourceFile] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("repo", "path", "commit", "lang", "content")
      .as[SourceFile]
  }
}
