package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM with one local Spark session. Prints a
  * single `GRAFTBENCH {...}` line of raw figures; `run.py` turns it into
  * the reported metrics.
  *
  * {{{
  * graftbench.BenchMain <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
  * graftbench.BenchMain selftest <workDir> <cores>
  * }}}
  */
object BenchMain {

  /** Files per build: 8 per repo on the 50 round-robin repos. */
  val FilesPerBuild = 400L

  case class Workload(name: String, hot: Long => Option[String])

  val Workloads: Map[String, Workload] = Seq(
    Workload("bulk_build", _ => None),
    Workload("hot_repo_build", seed => Some(Corpus.hotRepo(seed)))
  ).map(w => w.name -> w).toMap

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Operations attempted and failed, with the reasons. */
  final class Outcome {
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    /** Runs one operation; a throw counts it failed and yields None. */
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) => failures += s"$what threw ${e.toString.take(300)}"; None }
    }
    /** Computes a figure a check needs; a throw is a failed check. */
    def value[A](what: String)(body: => A): Option[A] =
      try Some(body)
      catch { case NonFatal(e) => failures += s"$what threw ${e.toString.take(300)}"; None }
    /** Counts a failed output check against an already attempted op. */
    def check(what: String)(result: => Option[String]): Unit =
      try result.foreach(r => failures += s"$what: $r")
      catch { case NonFatal(e) => failures += s"$what check threw ${e.toString.take(300)}" }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "selftest" :: work :: cores :: Nil =>
      val spark = Session.create(cores.toInt, work)
      val bad = try SelfTest.run(spark) finally spark.stop()
      bad.foreach(b => System.err.println(s"selftest failed: $b"))
      println(s"""GRAFTBENCH {"selftest_failures":${bad.size}}""")
      sys.exit(if (bad.isEmpty) 0 else 1)
    case wl :: seed :: seconds :: trace :: work :: cores :: Nil =>
      val w = Workloads.getOrElse(wl, { System.err.println(s"unknown workload $wl"); sys.exit(2) })
      println("GRAFTBENCH " + run(w, seed.toLong, seconds.toDouble, trace == "1", work, cores.toInt))
    case _ =>
      System.err.println("usage: BenchMain <workload> <seed> <seconds> <trace> <workDir> <cores> | selftest <workDir> <cores>")
      sys.exit(2)
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      work: String, cores: Int): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Checks.loadAvg()
    val memcpy0 = Checks.memcpyMbs()
    val spark = Session.create(cores, work)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val outcome = new Outcome
    val first = Corpus.startIndex(seed)
    val src = s"$work/source"
    Corpus.writeTable(spark, first, FilesPerBuild, w.hot(seed), src)
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    out("files") = FilesPerBuild
    out("first_index") = first
    w.hot(seed).foreach(h => out("hot_repo") = h)

    val storage0 = Checks.storageBytes(spark)
    val storageAfter = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    if (!traced) endToEnd(spark, w, seed, seconds, work, src, outcome, out, storageAfter, t0)
    else tracedRun(spark, seed, work, src, outcome, out, storageAfter)
    out("retained_cache_mb") = (storageAfter.lastOption.getOrElse(storage0) - storage0) / 1e6
    out("storage_after_op_kb") = storageAfter.map(b => (b - storage0) / 1e3)
    out("host") = Map("load1_pre" -> load0, "load1_post" -> Checks.loadAvg(),
      "memcpy_pre_mbs" -> memcpy0, "memcpy_post_mbs" -> Checks.memcpyMbs())
    out("attempted") = outcome.attempted
    out("failures") = outcome.failures.toSeq
    spark.stop()
    Json.render(out)
  }

  /** Closed loop, one client: committed builds into fresh roots, each
    * started when the previous one and its checks are done, until
    * `seconds` of operations have run (at least one build). */
  private def endToEnd(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      work: String, src: String, outcome: Outcome, out: mutable.Map[String, Any],
      storageAfter: mutable.Buffer[Long], t0: Long): Unit = {
    val builds = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i == 0 || secs(t0) < seconds) {
      val root = s"$work/roots/$i"
      val built = outcome.op("build")(Build.committed(spark, src, root))
      storageAfter += Checks.storageBytes(spark)
      for ((n, s) <- built) {
        builds += s
        counts += n
        val tri = Build.triples(spark, root)
        outcome.value("build digest")(Checks.tripleDigest(tri)).foreach { d =>
          out.get("digest").foreach(d0 => outcome.check("digest")(
            if (d == d0) None else Some(s"build $i gave $d, build 0 gave $d0")))
          out.getOrElseUpdate("digest", d)
        }
        if (i == 0) {
          outcome.check("audit")(Checks.audit(tri))
          outcome.check("lineage")(Checks.lineage(tri, spark.read.parquet(src)))
          if (seed == 0 && w.hot(seed).isEmpty)
            outcome.check("gold")(Checks.gold(tri, Checks.goldFrame(spark, FilesPerBuild)))
        }
      }
      Build.deleteTree(root)
      i += 1
    }
    out("build_s") = builds.toSeq
    out("triples") = counts.toSeq
  }

  /** The traced run: an untraced cold build as warm-up, a traced build,
    * then the same build untraced (the traced wall minus the untraced one
    * is the tracing overhead; JIT warm-up still running between the two
    * builds makes it an upper bound), the Store read path of a resume, and
    * one traced pass of the graph operators over the traced build's KG.
    * The warm-up and traced triples must have one digest. */
  private def tracedRun(spark: SparkSession, seed: Long, work: String, src: String,
      outcome: Outcome, out: mutable.Map[String, Any],
      storageAfter: mutable.Buffer[Long]): Unit = {
    val tr = new Trace(spark.sparkContext)
    def untraced(what: String, root: String) = {
      val r = outcome.op(what)(Build.committed(spark, src, s"$work/roots/$root"))
      storageAfter += Checks.storageBytes(spark)
      r
    }
    def digestOf(root: String) = Checks.tripleDigest(Build.triples(spark, s"$work/roots/$root"))
    val ref = untraced("warm-up build", "w")
      .flatMap(_ => outcome.value("warm-up digest")(digestOf("w")))
    tr.drain(); tr.reset()
    val root = s"$work/roots/t"
    val t = outcome.op("traced build")(tr.layer("build")(Build.traced(spark, src, root, tr)))
    storageAfter += Checks.storageBytes(spark)
    val plain = untraced("build", "u")
    val layers = mutable.LinkedHashMap.empty[String, Double]
    for (b <- t) {
      tr.drain()
      outcome.check("traced digest")(
        for (r <- ref; d = digestOf("t") if d != r) yield s"warm-up $r != traced $d")
      for ((k, v) <- Trace.driverFigures(tr, b.fromMs, b.toMs)) layers(s"driver.$k") = v
      for ((_, s) <- plain) layers("trace.overhead_s") = b.wallSec - s
      layers("trace.build_s") = b.wallSec
      Build.killAfterTagged(root)
      outcome.op("store read")(Build.tracedRead(spark, src, root, tr)).foreach(n =>
        layers("store.read.rows_out") = n.toDouble)
      tr.drain()
      for (l <- Build.TracedLayers) {
        for ((k, v) <- Trace.layerFigures(tr, l)) layers(s"$l.$k") = v
        b.rowsOut.get(l).foreach(n => layers(s"$l.rows_out") = n.toDouble)
      }
      for ((k, v) <- Build.storeFigures(root)) layers(s"store.write.$k") = v
      layers("link.forms") = b.forms.toDouble
      layers("link.local_cc") = if (b.localCc) 1.0 else 0.0

      // graph operators over this KG; the prior snapshot is the half of
      // the files whose path hashes even
      val kg = Build.triples(spark, root)
      val inputs = Graph.prepare(kg, kg.filter(pmod(xxhash64(col("path")), lit(2L)) === 0))
      outcome.op("graph pass")(tr.layer("graph")(
          Graph.pass(inputs, name => body => tr.layer(s"graph.$name")(body))))
        .foreach { res =>
          tr.drain()
          for ((name, _, _) <- res; (k, v) <- Trace.layerFigures(tr, s"graph.$name")
               if Set("wall_s", "jobs", "shuffle_mb")(k))
            layers(s"graph.$name.$k") = v
          res.find(_._1 == "integrityAudit").foreach { case (_, _, d) =>
            outcome.check("graph audit")(if (d.startsWith("0-")) None else Some(s"audit rows: $d"))
          }
        }
      Files.writeString(Paths.get(work, "spans.json"), tr.spansJson)
    }
    if (storageAfter.size >= 2)
      layers("session.retained_kb_per_op") =
        (storageAfter.last - storageAfter.head) / 1e3 / (storageAfter.size - 1)
    out("layers") = layers
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}
