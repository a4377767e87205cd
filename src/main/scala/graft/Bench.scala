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

    // approximate ops graded against their exact ground truths:
    // recall@10 of the ANN probe (q18) vs brute force (q14), and pair
    // recall of the banded LSH near-dup (q26) vs exact all-pairs (q23).
    // NonFatal only: an OOM/interrupt must fail the bench run, not be
    // booked as a silent -1.0 recall
    import scala.util.control.NonFatal
    def grade(name: String)(f: => Double): Double =
      try f catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name grader failed: $e")
          -1.0
      }
    // these collects are bench-only grading, and bounded by construction:
    // ids() pulls a top-k result (k=10 rows), pairs() a thresholded
    // near-dup pair set (tens of rows at bench SF) — never a corpus-scale
    // frame to the driver
    def ids(q: String) = SparkEntry.queries(q)(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def pairs(q: String) = SparkEntry.queries(q)(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annRecall = grade("ann_recall_at_10") {
      val bf = ids("q14_knn_bruteforce")
      ids("q18_ann_topk").intersect(bf).size.toDouble / bf.size
    }
    val ivfRecall = grade("ivf_recall_at_10") {
      val bf = ids("q14_knn_bruteforce")
      ids("q29_ann_ivf").intersect(bf).size.toDouble / bf.size
    }
    // the recall-vs-probe tradeoff recorded at a second probe setting
    // (q29 probes 16 lists; 64 probes ≈ probe-all at bench scale) — the
    // IVF analog of reporting both LSH regimes
    val ivfRecall64 = grade("ivf_recall_at_10_probe64") {
      import org.apache.spark.sql.functions.col
      val bf = ids("q14_knn_bruteforce")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val query = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val got = graft.ops.Similarity.ivfTopK(emb, query, 10, nProbe = 64)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    // int8-quantization fidelity: overlap of the quantized-space top-10
    // (q61, exact integer math) with the float brute-force top-10 (q14) —
    // the compression-vs-recall number for the 4×-smaller embedding store
    val quantRecall = grade("quant_recall_at_10") {
      val bf = ids("q14_knn_bruteforce")
      ids("q61_quantized_knn").intersect(bf).size.toDouble / bf.size
    }
    val lshRecall = grade("lsh_neardup_pair_recall") {
      val exact = pairs("q23_embed_neardup")
      if (exact.isEmpty) -1.0
      else pairs("q26_embed_neardup_lsh").intersect(exact).size.toDouble / exact.size
    }
    // contract-regime recall: the LSH near-dup operator's documented
    // threshold is cos >= 0.95, which the synthetic corpus (max pair cos
    // ~0.5) never exercises — plant deterministic clones at cos ~0.995
    // and measure recall of the planted pair set at the 0.95 bar
    val lshContractRecall = grade("lsh_contract_recall") {
      import spark.implicits._
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
          org.apache.spark.sql.functions.col("embedding"))
        .as[(Long, Seq[Float])]
      val cloneOffset = 1000000000L
      val clones = base.filter(_._1 % 10 == 0).map { case (id, v) =>
        val rng = new scala.util.Random(id)
        val arr = v.toArray
        val norm = math.sqrt(arr.map(x => x.toDouble * x).sum)
        val noise = 0.1 * norm / math.sqrt(arr.length.toDouble)
        (id + cloneOffset,
          arr.map(x => (x + (rng.nextDouble() * 2 - 1) * noise).toFloat).toSeq)
      }
      // bounded collect: one (id, clone-id) pair per 10 vec_ids — the
      // planted ground-truth set, not corpus data
      val planted = base.filter(_._1 % 10 == 0)
        .map(r => (r._1, r._1 + cloneOffset)).collect().toSet
      if (planted.isEmpty) -1.0
      else {
        val found = graft.ops.Similarity
          .nearDupPairs(base.union(clones).toDF("vec_id", "embedding"),
            threshold = 0.95)
          .select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        found.intersect(planted).size.toDouble / planted.size
      }
    }

    // window-quality stamp: probe before (captured above, ahead of the kg
    // phase) and after the full run, so a window that turns noisy MID-run
    // shows as a pre/post split rather than silently inflating the walls
    val memcpyPost = memcpyMbs()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","kg_pipeline_sec":$kgSec,"kg_triples":$nTriples,"triples_per_sec":$triplesPerSec,"ann_recall_at_10":$annRecall,"ivf_recall_at_10":$ivfRecall,"ivf_recall_at_10_probe64":$ivfRecall64,"quant_recall_at_10":$quantRecall,"lsh_neardup_pair_recall":$lshRecall,"lsh_contract_recall":$lshContractRecall,"host_memcpy_mbs_pre":$memcpyPre,"host_memcpy_mbs_post":$memcpyPost,"host_loadavg":${loadAvg()}}"""
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
