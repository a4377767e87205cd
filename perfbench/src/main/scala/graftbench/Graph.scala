package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.kg.Triples

/** The KG graph operators over a committed triple set: the temporal edges
  * feed closure, PageRank and label propagation; the event co-occurrence
  * edges feed the triangle, core, Jaccard and truss operators. */
object Graph {

  case class Inputs(kg: DataFrame, prior: DataFrame, temporal: DataFrame,
      cooc: DataFrame)

  /** BEFORE plus reversed AFTER, endpoints lifted through sameAs. */
  def temporalEdges(tri: DataFrame): DataFrame = {
    val canon = tri.filter(col("pred") === "sameAs")
      .select(col("subj").as("ev"), col("obj").as("canon"))
    tri.filter(col("pred") === "BEFORE")
      .select(col("subj").as("s0"), col("obj").as("o0"))
      .unionByName(tri.filter(col("pred") === "AFTER")
        .select(col("obj").as("s0"), col("subj").as("o0")))
      .join(canon.select(col("ev").as("s0"), col("canon").as("cs")), Seq("s0"), "left")
      .join(canon.select(col("ev").as("o0"), col("canon").as("co")), Seq("o0"), "left")
      .select(coalesce(col("cs"), col("s0")).as("s"), coalesce(col("co"), col("o0")).as("o"))
  }

  /** One edge (s < o) per pair of sameAs-lifted typed events that share a
    * document. */
  def cooccurrenceEdges(tri: DataFrame): DataFrame = {
    val canon = tri.filter(col("pred") === "sameAs")
      .select(col("subj").as("e"), col("obj").as("canon"))
    val dv = tri.filter(col("pred") === "hasType")
      .select(col("subj").as("e")).distinct()
      .join(canon, Seq("e"), "left")
      .select(substring_index(col("e"), "#L", 1).as("doc"),
        coalesce(col("canon"), col("e")).as("v"))
      .distinct()
      .localCheckpoint()
    dv.as("a").join(dv.as("b"), col("a.doc") === col("b.doc") && col("a.v") < col("b.v"))
      .select(col("a.v").as("s"), col("b.v").as("o")).distinct()
  }

  /** Lifts both edge sets and materializes every input (set-up work). */
  def prepare(kg: DataFrame, prior: DataFrame): Inputs = {
    val k = kg.select("subj", "pred", "obj").localCheckpoint()
    Inputs(k, prior.select("subj", "pred", "obj").localCheckpoint(),
      temporalEdges(k).localCheckpoint(), cooccurrenceEdges(k).localCheckpoint())
  }

  /** The operator suite, with the parameters the engine's KG queries use. */
  val Ops: Seq[(String, Inputs => DataFrame)] = Seq(
    "transitiveClosure" -> (i => Triples.transitiveClosure(i.temporal, maxHops = 12)),
    "pageRank" -> (i => Triples.pageRank(i.temporal, iters = 5)),
    "labelProp" -> (i => Triples.labelProp(i.temporal, iters = 3)),
    "snapshotDelta" -> (i => Triples.snapshotDelta(i.kg, i.prior)),
    "triangleCounts" -> (i => Triples.triangleCounts(i.cooc)),
    "kCorePeel" -> (i => Triples.kCorePeel(i.cooc, k = 6, rounds = 3)),
    "edgeJaccard" -> (i => Triples.edgeJaccard(i.cooc)),
    "kTrussPeel" -> (i => Triples.kTrussPeel(i.cooc, k = 7, rounds = 2)),
    "degreeHistogram" -> (i => Triples.degreeHistogram(i.kg)),
    "integrityAudit" -> (i => Triples.integrityAudit(i.kg)))

  /** Digest over every non-floating column: floating sums may differ in
    * the last bit between runs, the keys and integer figures may not. */
  def resultDigest(df: DataFrame): String =
    Checks.digest(df, df.schema.fields.collect {
      case f if f.dataType != DoubleType && f.dataType != FloatType => f.name
    }.toSeq)

  /** One pass of the suite: (op, wall seconds, result digest) per op, each
    * op run inside `around(op)`. */
  def pass(in: Inputs, around: String => (=> String) => String): Seq[(String, Double, String)] =
    Ops.map { case (name, op) =>
      val t0 = System.nanoTime()
      val d = around(name)(resultDigest(op(in)))
      (name, (System.nanoTime() - t0) / 1e9, d)
    }
}
