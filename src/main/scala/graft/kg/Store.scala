package graft.kg

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style stage store: partitioned parquet + snapshot manifests with
  * per-partition lineage rows, giving atomic per-stage commit and
  * resume-from-last-committed-snapshot semantics (north rule "checkpointed
  * stage boundaries"; replaces the reference's checkpoint-every-20-docs
  * pickle dump, test_on_raw_text.py:43-56,119-120).
  *
  * No Iceberg jar ships in this environment (SURVEY.md §7), so the
  * snapshot/manifest protocol is implemented honestly on plain parquet:
  *   - stage data lands in `<root>/<stage>/` (partitioned by `repo`);
  *   - the manifest `<root>/_manifests/<stage>.json` is written to a temp
  *     file and atomically renamed INTO place only after the parquet write
  *     completed — a stage is committed iff its manifest exists;
  *   - the manifest records the input signature, row count, and
  *     per-partition lineage (rows per repo), so a resume can verify it is
  *     continuing the same computation.
  */
object Store {

  /** `metrics`: (partition, parquetFiles, bytes) per first-level output
    * partition — the snapshot-size side of the per-partition lineage the
    * north rule asks for; `wallSec` is the stage's compute+write time;
    * `counts`: named totals over the snapshot, each written as its own
    * top-level key (see [[runStageCounting]]). */
  case class Manifest(stage: String, inputSig: String, rows: Long,
      lineage: Seq[(String, Long)], committedAtNanos: Long,
      schemaJson: String, metrics: Seq[(String, Long, Long)] = Seq.empty,
      wallSec: Double = 0.0, counts: Seq[(String, Long)] = Seq.empty)

  private[graft] def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def manifestPath(root: String, stage: String): java.nio.file.Path =
    Paths.get(root, "_manifests", s"$stage.json")

  def writeManifest(root: String, m: Manifest): Unit = {
    val dir = Paths.get(root, "_manifests")
    Files.createDirectories(dir)
    val lineageJson = m.lineage
      .map { case (p, n) => s"{${q("partition")}:${q(p)},${q("rows")}:$n}" }
      .mkString("[", ",", "]")
    val metricsJson = m.metrics
      .map { case (p, f, b) =>
        s"{${q("partition")}:${q(p)},${q("files")}:$f,${q("bytes")}:$b}" }
      .mkString("[", ",", "]")
    val json =
      s"{${q("stage")}:${q(m.stage)},${q("inputSig")}:${q(m.inputSig)}," +
        s"${q("rows")}:${m.rows},${q("lineage")}:$lineageJson," +
        s"${q("metrics")}:$metricsJson," +
        s"${q("wall_sec")}:${m.wallSec}," +
        m.counts.map { case (k, n) => s"${q(k)}:$n," }.mkString +
        s"${q("committedAtNanos")}:${m.committedAtNanos}," +
        s"${q("schema")}:${q(m.schemaJson)}}"
    val tmp = dir.resolve(s"${m.stage}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(root, m.stage),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def manifestText(root: String, stage: String): Option[String] =
    Some(manifestPath(root, stage)).filter(Files.exists(_)).map(Files.readString)

  /** The first integer field `key` of a manifest text. String fields are
    * escaped by `q`, so their content never matches; the nested lineage
    * and metrics objects use only `partition`, `rows`, `files` and
    * `bytes`, and the top-level `rows` is written before them. */
  private def longField(s: String, key: String): Option[Long] =
    (java.util.regex.Pattern.quote(q(key) + ":") + "(\\d+)").r
      .findFirstMatchIn(s).map(_.group(1).toLong)

  /** A named total the stage's manifest records (see [[runStageCounting]]),
    * or None when the stage is uncommitted or records no such count. */
  def readCount(root: String, stage: String, key: String): Option[Long] =
    manifestText(root, stage).flatMap(longField(_, key))

  /** Minimal field extraction (manifests are engine-written, flat JSON).
    * Returns (inputSig, rows, schemaJson). */
  def readManifest(root: String, stage: String): Option[(String, Long, String)] =
    manifestText(root, stage).flatMap { s =>
      // string fields are written escaped by `q`: scan to the first
      // unescaped quote. Not a regex: an alternation loop recurses once
      // per character and overflows the thread stack on a schema of a
      // few KB.
      def str(field: String): Option[String] = {
        val key = q(field) + ":\""
        Some(s.indexOf(key)).filter(_ >= 0).map(_ + key.length).flatMap { from =>
          var i = from
          while (i < s.length && s.charAt(i) != '"')
            i += (if (s.charAt(i) == '\\') 2 else 1)
          if (i < s.length) Some(unescape(s.substring(from, i))) else None
        }
      }
      for (a <- str("inputSig"); b <- longField(s, "rows"); c <- str("schema"))
        yield (a, b, c)
    }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Run-or-resume a stage. If a manifest exists with a matching input
    * signature, the committed snapshot is read back and `compute` is NEVER
    * invoked; otherwise the stage computes, writes partitioned parquet,
    * and commits its manifest atomically. */
  def runStage(spark: SparkSession, root: String, stage: String,
      inputSig: String)(compute: => DataFrame): DataFrame =
    runStageCounting(spark, root, stage, inputSig, Nil)(compute)

  /** [[runStage]] whose manifest also records, under each name of
    * `counts`, the sum of its column over the committed snapshot. The sums
    * ride on the lineage aggregate that re-reads the snapshot anyway, so
    * they cost no extra job; [[readCount]] reads them back. */
  private[kg] def runStageCounting(spark: SparkSession, root: String, stage: String,
      inputSig: String, counts: Seq[(String, Column)])(
      compute: => DataFrame): DataFrame = {
    val dataPath = s"$root/$stage"
    readManifest(root, stage) match {
      case Some((sig, _, schemaJson)) if sig == inputSig =>
        // the manifest carries the schema so even an empty snapshot
        // (e.g. a clean quarantine) reads back correctly
        val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).parquet(dataPath)
      case _ =>
        val t0 = System.nanoTime()
        val df = compute
        val hasRepo = df.columns.contains("repo")
        // cluster rows by the partition column before a partitioned write
        // (guide §6): without it every input task writes one file per
        // repo it happens to hold — task-count × repo-count small files
        // per stage commit, paid again at read-back listing. REBALANCE
        // (not a fixed-count repartition) lets AQE size the shuffle
        // output to the data — coalescing small partitions AND splitting
        // a skewed hot repo — so the clustering is scale-adaptive, not
        // tuned to the local core count.
        val clustered = if (hasRepo) df.hint("rebalance", "repo") else df
        val writer = clustered.write.mode("overwrite")
        (if (hasRepo) writer.partitionBy("repo") else writer).parquet(dataPath)
        val committed = spark.read.schema(df.schema).parquet(dataPath)
        val aggs = count(lit(1)) +:
          counts.map { case (_, c) => coalesce(sum(c), lit(0L)) }
        val grouped =
          if (hasRepo) committed.groupBy("repo") else committed.groupBy()
        val off = if (hasRepo) 1 else 0
        val perPartition = grouped.agg(aggs.head, aggs.tail: _*).collect()
        val lineage: Seq[(String, Long)] = perPartition.map { r =>
          (if (hasRepo) r.getString(0) else "*", r.getLong(off)) }.toSeq.sortBy(_._1)
        val totals = counts.map(_._1).zipWithIndex.map { case (name, i) =>
          name -> perPartition.map(_.getLong(off + 1 + i)).sum }
        val rows = lineage.map(_._2).sum
        val wallSec = (System.nanoTime() - t0) / 1e9
        writeManifest(root, Manifest(stage, inputSig, rows, lineage,
          System.nanoTime(), df.schema.json, partitionMetrics(dataPath),
          wallSec, totals))
        committed
    }
  }

  /** (partition, parquetFiles, bytes) per first-level partition directory
    * of a committed snapshot (the whole snapshot as partition "*" when the
    * stage is unpartitioned) — a local-filesystem walk; on a warehouse
    * store this is the file-listing the table format already maintains. */
  def partitionMetrics(dataPath: String): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val rootDir = Paths.get(dataPath)
    if (!Files.isDirectory(rootDir)) return Seq.empty
    def filesUnder(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet")).toVector
      finally s.close()
    }
    val parts = Files.list(rootDir)
    val top = try parts.iterator().asScala.toVector finally parts.close()
    val partDirs = top.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.contains("="))
    val groups: Seq[(String, Seq[java.nio.file.Path])] =
      if (partDirs.nonEmpty)
        partDirs.map(d => d.getFileName.toString -> filesUnder(d))
      else Seq("*" -> filesUnder(rootDir))
    groups.map { case (name, fs) =>
      (name, fs.length.toLong, fs.map(Files.size).sum)
    }.sortBy(_._1)
  }
}
