package graft
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerStageSubmitted, SparkListenerJobStart, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession
import graft.corpus.Synth
import graft.kg.{Pipeline, Triples}
object QBench {
  def main(args: Array[String]): Unit = {
    val cores = args.lift(0).map(_.toInt).getOrElse(32)
    val nFiles = args.lift(1).map(_.toLong).getOrElse(24000L)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
          .filter(c => c.contains(".scala:"))
          .distinct.take(6).mkString(" ; ")
        stageName(s.stageInfo.stageId) =
          s.stageInfo.name.take(40) + "|" + graftSite + "|rdds=" + rdds
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          stageTime.updateWith(t.stageId) { v => Some(v.getOrElse(0L) + t.taskMetrics.executorRunTime) }
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
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobStart.get(j.jobId).foreach { case (t0, site) =>
          val now = System.nanoTime()
          val gap = (t0 - lastEnd) / 1e9
          lastEnd = now
          println(f"JOB ${j.jobId}%4d wall=${(now - t0) / 1e9}%7.2f gap=$gap%6.2f  $site")
        }
      }
    })
    val committed = args.lift(2).contains("committed")
    val t0 = System.nanoTime()
    val n =
      if (committed) {
        // the Bench/triplesFor shape: committed emit + set-dedup + cache,
        // then repeated aggregates against the warm cache
        val distinct = Triples.fromFiles(spark, Synth.corpus(spark, nFiles, 8))
        val c = distinct.count()
        val tMid = System.nanoTime()
        println(f"PROBE committed+dedup wall=${(tMid-t0)/1e9}%.1f")
        for (i <- 1 to 3) {
          val tq = System.nanoTime()
          distinct.groupBy("pred").count().count()
          println(f"PROBE agg$i wall=${(System.nanoTime()-tq)/1e9}%.2f")
        }
        val plan = distinct.groupBy("pred").count()
          .queryExecution.executedPlan.toString
        println("PROBE planHasCache=" + plan.contains("InMemory") +
          " planHead=" + plan.linesIterator.take(12).mkString(" / ").take(600))
        c
      } else Triples.emit(spark,
        Pipeline.annotate(spark, Synth.corpus(spark, nFiles, 8))).count()
    val wall = (System.nanoTime()-t0)/1e9
    println(f"PROBE wall=$wall%.1f totalTaskSec=${stageTime.values.sum/1000.0}%.1f triples=$n")
    stageTime.toSeq.sortBy(-_._2).take(25).foreach { case (id, ms) =>
      println(f"STAGE $id ${ms/1000.0}%8.1f s  ${stageName.getOrElse(id, "?")}")
    }
    spark.stop()
  }
}
