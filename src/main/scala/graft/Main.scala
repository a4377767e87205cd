package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.Synth
import graft.kg.Pipeline
import graft.model.SourceFile

/** The deployable KG-construction job — the spark-submit entry point the
  * north rule names:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar <input> <outRoot>
  * }}}
  *
  *   - `<input>`: a parquet path holding the north-rule source table
  *     (repo, path, commit, lang, content), or `synth:<nFiles>[:<spf>]`
  *     for the deterministic synthetic corpus;
  *   - `<outRoot>`: the snapshot root — every stage commits an
  *     Iceberg-style partitioned snapshot + manifest there
  *     (Pipeline.runCheckpointed / kg.Store), so a rerun with the same
  *     input resumes from the last committed stage.
  *
  * Unlike the driver mains (Bench/Verify/Scaling), NO master or
  * parallelism is hardcoded here: the SparkSession comes from the ambient
  * spark-submit config, so the same jar runs local[N], a N-executor
  * cluster, or a 4N one (the scaling criterion's two cluster sizes)
  * without change. `spark.sql.shuffle.partitions` is left to the
  * deployment (AQE coalesces at runtime).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.Main <inputParquet | synth:<nFiles>[:<spf>]> <outRoot>")
      sys.exit(2)
    }
    val (input, outRoot) = (args(0), args(1))
    val spark = SparkSession.builder()
      .appName("graft-kg-build")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val (n, wall) = run(spark, input, outRoot)
    // q(): paths with quotes/backslashes must not produce invalid JSON
    println(s"""{"triples":$n,"sec":$wall,"out":${kg.Store.q(outRoot)},"input":${kg.Store.q(input)}}""")
    spark.stop()
  }

  /** Resume signature: for parquet inputs, the argument string alone would
    * silently resume from stale snapshots when the files change in place
    * under the same path — fold a content signature (sha256 of the sorted
    * file listing with sizes and mtimes) into it. Glob and comma-separated
    * inputs (both accepted by spark.read.parquet) expand via globStatus;
    * if the listing fails entirely, fall back to the raw argument string
    * (the weaker pre-round-4 signature) rather than failing the job
    * before the read. Synth inputs are fully determined by the argument
    * string plus the generator version — Synth.GeneratorVersion bumps
    * whenever the deterministic corpus content changes, so committed
    * stages from an older generator never silently resume. */
  def inputSignature(spark: SparkSession, input: String): String =
    if (input.startsWith("synth:")) input + "@g" + Synth.GeneratorVersion
    else try {
      val conf = spark.sparkContext.hadoopConfiguration
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      input.split(",").map(_.trim).filter(_.nonEmpty).foreach { one =>
        val p = new org.apache.hadoop.fs.Path(one)
        val fs = p.getFileSystem(conf)
        Option(fs.globStatus(p)).getOrElse(Array.empty).foreach { st =>
          if (st.isDirectory) {
            val it = fs.listFiles(st.getPath, true)
            while (it.hasNext) {
              val f = it.next()
              entries +=
                s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
            }
          } else entries +=
            s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
        }
      }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      input + "@" + digest.map("%02x".format(_)).mkString.take(16)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[main] input listing failed ($e); " +
          "falling back to argument-string resume signature")
        input
    }

  /** The job body, session-agnostic (testable; `main` owns the session
    * lifecycle). Returns (tripleCount, wallSec). */
  def run(spark: SparkSession, input: String, outRoot: String): (Long, Double) = {
    import spark.implicits._
    val files =
      if (input.startsWith("synth:")) {
        val parts = input.stripPrefix("synth:").split(":")
        Synth.corpus(spark, parts(0).toLong,
          parts.lift(1).map(_.toInt).getOrElse(8))
      } else
        spark.read.parquet(input)
          .select("repo", "path", "commit", "lang", "content")
          .as[SourceFile]
    // input signature for resume verification: argument string + content
    // signature for parquet inputs (see inputSignature) — a different
    // input path, synth size, or in-place file change invalidates
    // committed stages
    val t0 = System.nanoTime()
    val triples = Pipeline.runCheckpointed(spark, files, outRoot,
      inputSignature(spark, input))
    val n = triples.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }
}
