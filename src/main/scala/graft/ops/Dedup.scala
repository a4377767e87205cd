package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact deduplication over a `documents(doc_id, text, ...)` table:
  * sha256 hash-groupBy (one shuffle on the hash — safe at any scale,
  * hashes are uniform so never skewed). */
object Dedup {

  /** Exact duplicate groups: (text_sha, n_dups, keep_id). The
    * representative is min(doc_id) — deterministic. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Rows to drop under exact dedup (doc_id of every non-representative). */
  def exactDrops(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val groups = exactGroups(docs, idCol, textCol)
      .select(col("text_sha"), col("keep_id"))
    docs.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
      .join(groups, Seq("text_sha"))
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("drop_id"), col("keep_id"))
  }
}
