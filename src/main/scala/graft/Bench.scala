package graft

/** Driver benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR, one JSON
  * line. KG queries share one cached pipeline run (the first pays for it —
  * its time IS the pipeline time); `triples_per_sec` reports end-to-end KG
  * throughput. */
object Bench {
  /** Single-thread memcpy bandwidth (MB/s) — the host-noise probe from
    * tools/hostprobe.py, in-JVM so the artifact of record carries its own
    * measurement-window quality. Methodology matches the python probe
    * (fresh-destination 80 MB copies, so allocation + page faults are
    * billed exactly as `b[:]` bills them): on this host a reading
    * < ~4000 MB/s marks a co-tenant memory-bus noise window in which
    * identical builds measure 2-3x slower wall (BENCH/BASELINE.md,
    * round-5 host-noise attribution). Wrong readings are worse than
    * none, so any failure reports -1 rather than aborting the bench. */
  private def memcpyMbs(): Double =
    try {
      val mb = 80
      val n = mb * 1000000 / 8
      val src = new Array[Long](n)
      java.util.Arrays.fill(src, 0x9e3779b97f4a7c15L)
      var sink = 0L
      sink ^= src.clone()(n - 1) // warm the source pages outside the window
      val reps = 5
      val t = System.nanoTime()
      var i = 0
      while (i < reps) { sink ^= src.clone()(i); i += 1 }
      val dt = (System.nanoTime() - t) / 1e9
      if (sink == 42L) System.err.println("") // defeat dead-code elimination
      math.rint(reps * mb / dt)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val memcpyPre = memcpyMbs()
    val spark = LocalSession(cpus)

    // KG throughput measured explicitly (count forces the full pipeline)
    val t0 = System.nanoTime()
    val nTriples =
      try SparkEntry.queries("kg_triples_by_pred")(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] kg pipeline failed: $e"); -1L }
    val kgSec = (System.nanoTime() - t0) / 1e9
    val triplesPerSec = if (kgSec > 0 && nTriples > 0) nTriples / kgSec else 0.0

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e"); -1L }
      name -> (System.nanoTime() - s0) / 1e9
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = kgSec + results.map(_._2).sum

    // window-quality stamp: probe before (captured above, ahead of the kg
    // phase) and after the full run, so a window that turns noisy MID-run
    // shows as a pre/post split rather than silently inflating the walls
    val memcpyPost = memcpyMbs()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","kg_pipeline_sec":$kgSec,"kg_triples":$nTriples,"triples_per_sec":$triplesPerSec,"host_memcpy_mbs_pre":$memcpyPre,"host_memcpy_mbs_post":$memcpyPost,"host_loadavg":${loadAvg()}}"""
    println(line)
    // driver-parse-proof copy: sbt interleaves Spark INFO lines on stdout,
    // so the driver's tail-extraction can miss the metric line — also
    // write it alone to a dedicated file
    try {
      val dir = java.nio.file.Paths.get("BENCH")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("last_run.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH/last_run.json: $e") }
    spark.stop()
  }
}
