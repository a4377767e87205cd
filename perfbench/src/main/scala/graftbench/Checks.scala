package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.GoldDeriver
import graft.kg.Triples

/** Output checks and host readings. Each check returns `None` when the
  * output is right and `Some(reason)` when it is not. */
object Checks {

  /** Order-independent digest of a frame's rows over `cols`: row count and
    * the two 32-bit halves of the summed per-row xxhash64. Equal multisets
    * of rows give equal digests whatever the partitioning or order. */
  def digest(df: DataFrame, cols: Seq[String]): String = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)),
        coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
      .head()
    f"${r.getLong(0)}%d-${r.getLong(1)}%x-${r.getLong(2)}%x"
  }

  val TripleCols = Seq("subj", "pred", "obj")

  def tripleDigest(tri: DataFrame): String = digest(tri, TripleCols)

  def audit(tri: DataFrame): Option[String] = {
    val n = Triples.integrityAudit(tri).count()
    if (n == 0) None else Some(s"integrityAudit returned $n rows")
  }

  /** Every triple's lineage sha must be sha256 of its input row's content. */
  def lineage(tri: DataFrame, src: DataFrame): Option[String] = {
    val shas = src.select(col("repo"), col("path"),
      sha2(col("content"), 256).as("expected"))
    val bad = tri.select("repo", "path", "contentSha").distinct()
      .join(shas, Seq("repo", "path"), "left")
      .filter(col("expected").isNull || col("expected") =!= col("contentSha"))
      .count()
    if (bad == 0) None else Some(s"$bad (repo, path, contentSha) rows disagree with sha256(content)")
  }

  /** Expected triple set of Synth files `0 until nFiles`, as a frame. */
  def goldFrame(spark: SparkSession, nFiles: Long): DataFrame = {
    import spark.implicits._
    GoldDeriver.goldTriples(nFiles, Corpus.SentsPerFile).toSeq
      .map(t => (t.subj, t.pred, t.obj)).toDF(TripleCols: _*)
  }

  /** Set equality with the gold triples (precision = recall = 1.0). */
  def gold(tri: DataFrame, goldTri: DataFrame): Option[String] = {
    val got = tri.select(TripleCols.map(col): _*).distinct()
    val extra = got.except(goldTri).count()
    val missing = goldTri.except(got).count()
    if (extra == 0 && missing == 0) None
    else Some(s"gold mismatch: $extra triples not in gold, $missing gold triples missing")
  }

  /** Bytes of cached blocks (memory plus disk) the session holds now. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Single-thread memcpy bandwidth in MB/s: five clones of an 80 MB long
    * array after one warming clone — the same method as the engine's
    * Bench host probe, so windows of the two stay comparable. */
  def memcpyMbs(): Double = {
    val mb = 80
    val n = mb * 1000000 / 8
    val src = new Array[Long](n)
    java.util.Arrays.fill(src, 0x9e3779b97f4a7c15L)
    var sink = src.clone()(n - 1)
    val reps = 5
    val t = System.nanoTime()
    var i = 0
    while (i < reps) { sink ^= src.clone()(i); i += 1 }
    val dt = (System.nanoTime() - t) / 1e9
    if (sink == 42L) System.err.println("")
    reps * mb / dt
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
}
