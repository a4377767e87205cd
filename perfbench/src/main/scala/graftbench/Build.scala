package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Main
import graft.kg.{Pipeline, Store, Triples}
import graft.kg.Pipeline.{Annotated, TaggedSentence}
import graft.link.Canonicalize
import graft.model.Sentence

/** The committed KG build, untraced and traced. */
object Build {

  /** The layers a traced build reports, in pipeline order. */
  val TracedLayers = Seq("text", "tag", "annotate.events", "annotate.heads",
    "annotate.pairs", "annotate.align", "annotate.inject", "annotate.enrich",
    "link", "emit", "store.write", "store.read")

  /** The stages a kill after the `tagged` commit leaves uncommitted. */
  val StagesAfterTagged = Seq("events", "relations", "triples")

  /** The committed build as `graft.Main` runs it: read the source table,
    * `Pipeline.runCheckpointed` into `root`, count the committed triples.
    * Returns (triples, wall seconds). */
  def committed(spark: SparkSession, input: String, root: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val tri = Pipeline.runCheckpointed(spark, Corpus.read(spark, input), root,
      Main.inputSignature(spark, input))
    val n = tri.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Simulates a kill right after `tagged` committed: the later stages'
    * manifests go, so a rerun resumes from the committed tagged snapshot. */
  def killAfterTagged(root: String): Unit =
    StagesAfterTagged.foreach(s => Files.deleteIfExists(Store.manifestPath(root, s)))

  def triples(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/triples")

  /** Per-layer results of one traced build. */
  case class Traced(wallSec: Double, rowsOut: Map[String, Long],
      forms: Long, localCc: Boolean, fromMs: Long, toMs: Long)

  /** The same committed build, composed from the engine's layer functions
    * in `runCheckpointed`'s stage order. Every layer's output is persisted
    * and counted inside its span, so each span holds that layer's work and
    * the Store spans hold only writing. */
  def traced(spark: SparkSession, input: String, root: String, tr: Trace): Traced = {
    import spark.implicits._
    val sig = Main.inputSignature(spark, input)
    val files = Corpus.read(spark, input)
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](name: String, ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist()
      rows(name) += p.count()
      cached += p
      p
    }
    def layer[T](name: String)(body: => Dataset[T]): Dataset[T] =
      tr.layer(name)(keep(name, body))
    def write(stage: String, df: DataFrame): DataFrame = tr.layer("store.write") {
      val out = Store.runStage(spark, root, stage, sig)(df)
      rows("store.write") += Store.readManifest(root, stage).map(_._2).getOrElse(0L)
      out
    }

    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val sents = write("sentences", layer("text")(Pipeline.sentences(spark, files)
      .repartitionByRange(col("repo"), col("path"))).toDF()).as[Sentence]
    val tagged = write("tagged", layer("tag")(Pipeline.tagStage(spark, sents)).toDF())
      .as[TaggedSentence]

    val events = layer("annotate.events")(Pipeline.eventRows(spark, tagged))
    val (sentToks, heads) = tr.layer("annotate.heads") {
      val st = keep("annotate.heads", tagged.select(col("sentKey"), col("tokens")))
      (st, keep("annotate.heads", Pipeline.headsNarrow(spark, tagged)))
    }
    val pairs = layer("annotate.pairs")(Pipeline.filterRelations(
      Pipeline.scoreRelations(Pipeline.relationCandidates(heads), sentToks)))
    val (aligned, rels) = tr.layer("annotate.align") {
      val a = keep("annotate.align", Pipeline.alignHeads(heads, sentToks))
      (a, keep("annotate.align", Pipeline.mapRelationEndpoints(pairs, a)))
    }
    val allEvents = layer("annotate.inject")(
      Pipeline.injectTempRelOnlyEvents(spark, aligned, events, tagged))
    val enriched = layer("annotate.enrich")(Pipeline.enrich(spark, allEvents,
      Pipeline.durations(spark, allEvents), tagged))
    val eventsC = write("events", enriched)
    val relsC = write("relations", rels)

    // the link layer on its own: the argument mentions Triples.emit
    // canonicalizes, through the same two Canonicalize calls
    val lineage = Seq(col("repo"), col("path"), col("contentSha"))
    val (forms, localCc) = tr.layer("link") {
      val mentions = eventsC
        .select(Seq(col("eventId"), explode(col("args")).as("arg")) ++ lineage: _*)
        .select(Seq(col("eventId"), col("arg.role").as("role"),
          col("arg.text").as("text")) ++ lineage: _*)
      val (formMap, nForms) = Canonicalize.canonicalFormsCounted(spark, mentions)
      val fm = formMap.persist()
      cached += fm
      keep("link", Canonicalize.rewrite(mentions, fm, formMapRows = nForms))
      (nForms, nForms <= spark.conf.get("spark.graft.maxLocalCCForms", "100000").toLong)
    }
    val emitted = layer("emit")(Triples.emit(spark, Annotated(tagged, eventsC, relsC)))
    write("triples", emitted).count()
    val wall = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    cached.foreach(_.unpersist())
    Traced(wall, rows.toMap, forms, localCc, fromMs, toMs)
  }

  /** The read path of a resume: the committed sentences and tagged
    * snapshots come back from the Store. Returns the rows read. */
  def tracedRead(spark: SparkSession, input: String, root: String, tr: Trace): Long = {
    val sig = Main.inputSignature(spark, input)
    tr.layer("store.read") {
      Seq("sentences", "tagged").map { s =>
        Store.runStage(spark, root, s, sig)(sys.error(s"stage $s is not committed")).count()
      }.sum
    }
  }

  /** Store-write figures of a committed root: parquet files, MB, and the
    * largest repo partition's share of the bytes, over every stage. */
  def storeFigures(root: String): Map[String, Double] = {
    val parts = Seq("sentences", "tagged", "events", "relations", "triples")
      .flatMap(s => Store.partitionMetrics(s"$root/$s"))
    val byPart = parts.groupBy(_._1).map { case (_, xs) => xs.map(_._3).sum }
    val bytes = parts.map(_._3).sum.toDouble
    Map("files" -> parts.map(_._2).sum.toDouble, "bytes_mb" -> bytes / 1e6,
      "max_partition_share" -> (if (bytes > 0) byPart.max / bytes else 0.0))
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
