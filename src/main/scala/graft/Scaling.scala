package graft

import java.nio.file.{Files, Paths}

/** Two-parallelism scaling evidence for the north rule: the SAME KG job on
  * the SAME deterministic input at local[N] and local[4N] (a single-host
  * proxy for N vs 4N executors), reporting throughput at both and
  * efficiency = thr(4N) / (4 × thr(N)). The job is the build `graft.Main`
  * runs ([[Main.run]]: the committed `Pipeline.runCheckpointed` path),
  * into a fresh snapshot root per run that is deleted afterwards, so no
  * run resumes another's committed stages.
  *
  * Round-2 protocol (replaces round 1's single-sample argument):
  *   - REPEATED, INTERLEAVED runs (low, high, low, high, ...) so shared-
  *     host drift hits both arms equally;
  *   - the JVM is CPU-PINNED per run via `taskset -apc` (all threads):
  *     local[N] runs on exactly N CPUs, local[4N] on exactly 4N — the
  *     wall-clock budget matches the claimed parallelism instead of
  *     letting the 2-thread run borrow 32 CPUs for GC/daemon work;
  *   - the headline is the MEDIAN-throughput efficiency
  *     median(thr_high) / (4 × median(thr_low)), with every sample
  *     reported alongside.
  *
  * Appends the measured table to BENCH/BASELINE.md.
  *
  * Usage: runMain graft.Scaling [nFiles] [sentsPerFile] [nLow] [reps]
  */
object Scaling {

  case class Run(cores: Int, sec: Double, triples: Long) {
    def triplesPerSec: Double = triples / sec
  }

  /** CPU count seen before any pinning — the unpin mask is derived from
    * this, not from a hardcoded topology. */
  private val allCpus: Int = Runtime.getRuntime.availableProcessors()

  /** Pin ALL threads of this JVM to the given CPU list ("0-7"). New
    * threads (each run builds a fresh SparkSession and pools) inherit
    * the creator's mask, so pinning before session creation covers the
    * executors too.
    *
    * Verification is by READ-BACK of the main thread's affinity, not by
    * taskset's exit code: `taskset -apc` races with short-lived JVM
    * threads and exits 1 even when every surviving thread was pinned
    * (observed on this host), so the exit code alone over-warns. */
  def pin(cpus: String): Unit = {
    val pid = ProcessHandle.current().pid().toString
    val p = new ProcessBuilder("taskset", "-apc", cpus, pid)
      .redirectErrorStream(true).start()
    p.getInputStream.readAllBytes() // drain
    p.waitFor()
    val check = new ProcessBuilder("taskset", "-pc", pid)
      .redirectErrorStream(true).start()
    val out = new String(check.getInputStream.readAllBytes(), "UTF-8").trim
    check.waitFor()
    val got = out.split(":").lastOption.map(_.trim).getOrElse("")
    def cpuSet(s: String): Set[Int] = s.split(",").filter(_.nonEmpty)
      .flatMap { part =>
        part.split("-") match {
          case Array(a, b) => (a.trim.toInt to b.trim.toInt).toSeq
          case Array(a) => Seq(a.trim.toInt)
          case _ => Seq.empty
        }
      }.toSet
    if (scala.util.Try(cpuSet(got)).toOption != Some(cpuSet(cpus)))
      System.err.println(s"[scaling] WARNING: requested CPUs $cpus but " +
        s"affinity read-back says '$got' — measurement may be unpinned")
  }

  def runOnce(cores: Int, nFiles: Long, spf: Int, pinned: Boolean): Run = {
    if (pinned) pin(s"0-${cores - 1}")
    val spark = LocalSession(cores, shufflePartitions = cores * 2)
    try {
      def build(n: Long, s: Int): (Long, Double) = {
        val root = Files.createTempDirectory("graft_scaling")
        try Main.run(spark, s"synth:$n:$s", root.toString)
        finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      }
      // warm-up: JIT + codegen caches, tiny slice (excluded from timing)
      build(8, 2)
      val (nTriples, sec) = build(nFiles, spf)
      Run(cores, sec, nTriples)
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val nFiles = args.lift(0).map(_.toLong).getOrElse(6000L)
    val spf = args.lift(1).map(_.toInt).getOrElse(8)
    val nLow = args.lift(2).map(_.toInt).getOrElse(2)
    val reps = args.lift(3).map(_.toInt).getOrElse(5)
    val nHigh = nLow * 4

    // JIT/codegen warm-up pair at reduced scale, excluded from the stats —
    // the first pinned run otherwise carries the whole JVM's compilation
    // cost (measured: a cold local[2] rep runs 1.5-2x slower than warm)
    runOnce(nLow, math.max(nFiles / 8, 1000L), spf, pinned = true)
    runOnce(nHigh, math.max(nFiles / 8, 1000L), spf, pinned = true)
    System.err.println("[scaling] warm-up pair done (excluded)")

    val lows = scala.collection.mutable.ArrayBuffer.empty[Run]
    val highs = scala.collection.mutable.ArrayBuffer.empty[Run]
    for (rep <- 1 to reps) {
      lows += runOnce(nLow, nFiles, spf, pinned = true)
      highs += runOnce(nHigh, nFiles, spf, pinned = true)
      val l = lows.last; val h = highs.last
      System.err.println(f"[scaling] rep $rep: local[$nLow]=${l.sec}%.1fs " +
        f"local[$nHigh]=${h.sec}%.1fs pairEff=${h.triplesPerSec / (4 * l.triplesPerSec)}%.3f")
    }
    pin(s"0-${allCpus - 1}") // unpin: full CPU list captured at startup

    val medLow = median(lows.map(_.triplesPerSec).toSeq)
    val medHigh = median(highs.map(_.triplesPerSec).toSeq)
    val eff = medHigh / (4.0 * medLow)
    val pairEffs = lows.zip(highs).map { case (l, h) =>
      h.triplesPerSec / (4.0 * l.triplesPerSec) }

    val json =
      s"""{"metric":"scaling_efficiency_median","value":$eff,"unit":"ratio","low_cores":$nLow,"high_cores":$nHigh,"reps":$reps,"low_sec":[${lows.map(_.sec).mkString(",")}],"high_sec":[${highs.map(_.sec).mkString(",")}],"pair_eff":[${pairEffs.mkString(",")}],"median_low_tps":$medLow,"median_high_tps":$medHigh,"triples":${lows.head.triples},"n_files":$nFiles,"sents_per_file":$spf,"pinned":true}"""
    println(json)

    // table rows are concatenated AFTER stripMargin — a row's leading '|'
    // would otherwise be eaten as the margin character
    val sampleRows = lows.zip(highs).zipWithIndex.map { case ((l, h), i) =>
      f"| ${i + 1} | ${l.sec}%.1f | ${h.sec}%.1f | ${l.triplesPerSec}%.0f | ${h.triplesPerSec}%.0f | ${pairEffs(i)}%.3f |"
    }.mkString("\n")
    val head =
      s"""
         |## Measured scaling (pinned repeat-median + warm-up, graft.Scaling, ${java.time.LocalDate.now()})
         |
         |Same job (graft.Main's committed build → triple count), same deterministic input
         |($nFiles files × $spf sentences, ${lows.head.triples} triples), one fresh
         |SparkSession per run, JVM `taskset`-pinned to exactly N CPUs for a
         |local[N] run, one discarded warm-up pair (JIT), then arms
         |interleaved (low, high, ×$reps):
         |
         |""".stripMargin
    val tableHead =
      s"| rep | local[$nLow] wall (s) | local[$nHigh] wall (s) | low triples/s | high triples/s | pair eff |\n" +
      "|---|---|---|---|---|---|\n"
    val tail =
      s"""
         |
         |Median throughput: local[$nLow] = ${f"$medLow%.0f"} triples/s,
         |local[$nHigh] = ${f"$medHigh%.0f"} triples/s.
         |**Median scaling efficiency (N→4N) = ${f"$eff%.3f"}** (target ≥ 0.8; perfect = 1.0).
         |""".stripMargin
    val md = head + tableHead + sampleRows + tail
    val out = Paths.get("BENCH")
    Files.createDirectories(out)
    val f = out.resolve("BASELINE.md")
    val existing = if (Files.exists(f)) Files.readString(f) else
      "# BENCH/BASELINE.md — measured engine numbers\n"
    Files.writeString(f, existing + md)
  }
}
