package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.corpus.Synth
import graft.kg.{Pipeline, Triples}

/** Profiling probes over the engine, one mode per question:
  *
  * {{{
  * runMain graft.Probe plans    [sfDir] [outFile] [query ...]
  * runMain graft.Probe isolate  [reps] [query ...]
  * runMain graft.Probe timeline [cores] [nFiles] [committed]
  * }}}
  *
  *   - `plans`: `explain("formatted")` of SparkEntry queries into one
  *     text file, in a `local[8]` session (defaults: `SPARK_GRAFT_SF_DIR`,
  *     `/tmp/plans.txt`, [[AuditedQueries]]); a query that fails gets a
  *     `FAILED: <error>` section and the others are still written;
  *   - `isolate`: times queries through the noop sink (every column of
  *     every row computed, no output cost), `reps` times each (default 2,
  *     every query), one `XBENCH` line per run; sf dir and cores come from
  *     `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` (default 32), as for
  *     `Bench`;
  *   - `timeline`: one KG build over `nFiles` Synth files (default 24000)
  *     at `local[cores]` (default 32), with a `JOB` line per Spark job
  *     (wall, driver gap since the previous job, callsite) and the top
  *     `STAGE`s by task time; `committed` builds the materialized triple
  *     set and re-aggregates it instead of the lazy `emit`.
  */
object Probe {

  sealed trait Mode
  final case class Plans(sfDir: String, outFile: String,
      queries: Seq[String]) extends Mode
  final case class Isolate(sfDir: String, cores: Int, reps: Int,
      queries: Seq[String]) extends Mode
  final case class Timeline(cores: Int, nFiles: Int,
      committed: Boolean) extends Mode

  val Usage: String =
    "usage: graft.Probe plans [sfDir] [outFile] [query ...] | " +
      "isolate [reps] [query ...] | timeline [cores] [nFiles] [committed]"

  /** The queries `plans` writes when none are named. */
  val AuditedQueries: Seq[String] = Seq("q30_golden_spans",
    "kg_timeline_golden", "q31_contained_args", "q33_copular_predicates",
    "q34_negation_scope", "q35_head_evidence", "q36_tokenize",
    "q37_sentsplit", "q38_gazetteer_ner", "q39_trigger_spans",
    "q40_argument_spans", "q41_align_inject", "q42_duration_speculation",
    "q43_ner_eval", "kg_snapshot_delta", "q55_batch_plan",
    "kg_temporal_closure", "q58_integrity_audit", "kg_bgp",
    "kg_bgp_optional", "kg_ntriples", "kg_pagerank", "kg_provenance",
    "kg_labelprop", "kg_degree_dist", "kg_triangles", "kg_kcore",
    "kg_edge_jaccard", "kg_truss")

  /** The command line as a [[Mode]], or the reason it is not one. `env`
    * supplies `SPARK_GRAFT_SF_DIR` (`isolate`'s sf dir, `plans`' default)
    * and `SPARK_GRAFT_CPUS` (`isolate`'s cores, default 32). Query names
    * that are not [[SparkEntry.queries]] keys are rejected here, before
    * any session starts. */
  def parse(args: Seq[String], env: Map[String, String]): Either[String, Mode] = {
    def positive(s: String) = Try(s.toInt).toOption.filter(_ > 0)
    def count(arg: Option[String], default: Int, what: String) =
      arg.fold[Either[String, Int]](Right(default))(a =>
        positive(a).toRight(s"$what: '$a' is not a positive number"))
    def sfDir(arg: Option[String]) = arg.orElse(env.get("SPARK_GRAFT_SF_DIR"))
      .toRight("no sfDir: pass one or set SPARK_GRAFT_SF_DIR")
    def known(queries: Seq[String]) =
      queries.filterNot(SparkEntry.queries.contains) match {
        case Seq() => Right(queries)
        case unknown => Left(s"unknown queries: ${unknown.mkString(", ")}")
      }
    args match {
      case "plans" +: rest =>
        for (d <- sfDir(rest.lift(0));
             qs <- known(if (rest.length > 2) rest.drop(2) else AuditedQueries))
          yield Plans(d, rest.lift(1).getOrElse("/tmp/plans.txt"), qs)
      case "isolate" +: rest =>
        // the rep count is optional: a first word that is not a positive
        // number is already a query name
        val (reps, queries) = rest.headOption.flatMap(positive) match {
          case Some(r) => (r, rest.tail)
          case None => (2, rest)
        }
        for (d <- sfDir(None); c <- count(env.get("SPARK_GRAFT_CPUS"), 32, "SPARK_GRAFT_CPUS");
             qs <- known(queries))
          yield Isolate(d, c, reps, qs)
      case "timeline" +: rest =>
        for (c <- count(rest.lift(0), 32, "cores"); n <- count(rest.lift(1), 24000, "nFiles"))
          yield Timeline(c, n, rest.lift(2).contains("committed"))
      case _ => Left(Usage)
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq, sys.env) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right(p: Plans) => withSession(8)(plans(_, p))
    case Right(i: Isolate) => withSession(i.cores)(isolate(_, i))
    case Right(t: Timeline) => withSession(t.cores)(timeline(_, t))
  }

  private def withSession(cores: Int)(body: SparkSession => Unit): Unit = {
    val spark = LocalSession(cores)
    try body(spark) finally spark.stop()
  }

  private[graft] def plans(spark: SparkSession, p: Plans): Unit = {
    val sb = new StringBuilder
    for (n <- p.queries) {
      sb.append(s"\n===== $n =====\n")
      try sb.append(SparkEntry.queries(n)(spark, p.sfDir)
        .queryExecution.explainString(FormattedMode))
      catch { case scala.util.control.NonFatal(e) =>
        sb.append(s"FAILED: $e\n") }
    }
    Files.writeString(Paths.get(p.outFile), sb.toString)
    println(s"WROTE ${p.outFile}")
  }

  private def isolate(spark: SparkSession, i: Isolate): Unit = {
    val names =
      if (i.queries.nonEmpty) i.queries else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names; r <- 1 to i.reps) {
      spark.sparkContext.setJobDescription(s"$n rep$r")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, i.sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"XBENCH $n rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"XBENCH $n rep$r FAILED: $e") }
      spark.sparkContext.setJobDescription(null)
    }
  }

  private def timeline(spark: SparkSession, t: Timeline): Unit = {
    val stageTime = TrieMap.empty[Int, Long]
    val stageName = TrieMap.empty[Int, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val graftSite = s.stageInfo.details.split("\n")
          .find(_.contains("graft.")).getOrElse("").trim.take(90)
        // the per-operator RDD callsites inside the stage attribute
        // broadcast-exchange build threads (whose submission stack has no
        // graft frames) to the pipeline code they actually evaluate
        val rdds = s.stageInfo.rddInfos.map(_.callSite)
          .filter(_.contains(".scala:")).distinct.take(6).mkString(" ; ")
        stageName(s.stageInfo.stageId) =
          s.stageInfo.name.take(40) + "|" + graftSite + "|rdds=" + rdds
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) stageTime.updateWith(e.stageId) { v =>
          Some(v.getOrElse(0L) + e.taskMetrics.executorRunTime) }
      // serial timeline: jobs are what the driver blocks on — wall per job
      // (+ the submission gap since the previous job ended) localizes the
      // orchestration overhead that task-time attribution can't see
      private val jobStart = TrieMap.empty[Int, (Long, String)]
      @volatile private var lastEnd = System.nanoTime()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobStart(j.jobId) = (System.nanoTime(), site)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.get(j.jobId).foreach { case (t0, site) =>
          val now = System.nanoTime()
          val gap = (t0 - lastEnd) / 1e9
          lastEnd = now
          println(f"JOB ${j.jobId}%4d wall=${(now - t0) / 1e9}%7.2f gap=$gap%6.2f  $site")
        }
    })
    val files = Synth.corpus(spark, t.nFiles, 8)
    val t0 = System.nanoTime()
    val n =
      if (t.committed) {
        // the materialized triple set, then repeated aggregates against it
        val distinct = Triples.fromFiles(spark, files)
        val c = distinct.count()
        println(f"PROBE committed+dedup wall=${(System.nanoTime() - t0) / 1e9}%.1f")
        for (i <- 1 to 3) {
          val tq = System.nanoTime()
          distinct.groupBy("pred").count().count()
          println(f"PROBE agg$i wall=${(System.nanoTime() - tq) / 1e9}%.2f")
        }
        val plan = distinct.groupBy("pred").count()
          .queryExecution.executedPlan.toString
        println("PROBE planHasCache=" + plan.contains("InMemory") +
          " planHead=" + plan.linesIterator.take(12).mkString(" / ").take(600))
        c
      } else Triples.emit(spark, Pipeline.annotate(spark, files)).count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"PROBE wall=$wall%.1f totalTaskSec=${stageTime.values.sum / 1000.0}%.1f triples=$n")
    stageTime.toSeq.sortBy(-_._2).take(25).foreach { case (id, ms) =>
      println(f"STAGE $id ${ms / 1000.0}%8.1f s  ${stageName.getOrElse(id, "?")}")
    }
  }
}
