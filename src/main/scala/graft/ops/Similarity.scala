package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Brute-force cosine top-k over an embedding column (`array<float>`):
  * the scan+score is one fused codegen stage; the only shuffle is the
  * top-k (a TakeOrderedAndProject, not a full sort). */
object Similarity {

  /** Cosine similarity between an embedding column and a literal query
    * vector — the native codegen expression (double accumulation; same
    * arithmetic as the HOF tree it replaces, so oracle hashes hold). */
  def cosineToQuery(vec: Column, query: Seq[Float]): Column =
    CosineSimilarity.cosine_similarity(vec, typedlit(query))

  /** Brute-force top-k by cosine to a query vector. */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
}
