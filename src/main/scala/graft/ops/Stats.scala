package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus/stream summary operators that complete two op families:
  *
  * CUBE — the full grouping-sets surface (q69 covers ROLLUP's prefix
  * lattice; `cubeDocStats` covers all 2^n combinations via the same
  * Expand operator): subtotals over (lang), (source), both, and the
  * grand total in ONE pass over the scan — Spark expands each input
  * row once per grouping set and partial aggregation still combines
  * map-side, so the shape is scan → Expand → partial agg → one
  * exchange → final agg at any scale.
  *
  * SKETCH CONTRACT — `sketchDistinctAudit` makes the HLL++ cardinality
  * sketch driver-checkable with a FULL hash oracle: the output carries
  * the exact distinct count (DuckDB re-derives it) plus an integer-math
  * pass flag asserting the sketch landed within `bandPct` percent of
  * exact. The sketch VALUE never
  * enters the hashed columns (it is implementation-specific); the
  * CONTRACT does — a Spark upgrade that broke approx_count_distinct's
  * advertised error would fail the hash. At 100 TB the sketch is the
  * only viable path (exact distinct shuffles every key; HLL++ merges
  * fixed 2^p-byte buffers map-side), and this audit is how you'd
  * validate it cheaply on a sample before trusting it fleet-wide.
  */
object Stats {

  /** CUBE(lang, source) over the documents table with the
    * grouping_id bitmask disambiguating NULL-as-total levels (first
    * column = most significant bit — the convention q69 verified
    * against DuckDB's GROUPING()). All-integer aggregates. */
  def cubeDocStats(docs: DataFrame): DataFrame =
    docs
      .cube(col("lang"), col("source"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("gid"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("sum_chars"), col("max_chars"))

  /** Per-group exact distinct cardinality + HLL++ error-band contract.
    * rsd = 0.02 (HLL++ precision ~2% typical error; small groups hit
    * the sparse exact path), band = 10% → the flag is a ~5-sigma
    * assertion. Integer math for the band test: |approx-exact|*100
    * <= bandPct*exact — no doubles anywhere in the hashed row. */
  def sketchDistinctAudit(events: DataFrame, keyCol: String = "user_id",
                          groupCol: String = "event_type",
                          bandPct: Int = 10): DataFrame =
    events
      .groupBy(col(groupCol))
      .agg(
        countDistinct(col(keyCol)).as("n_exact"),
        approx_count_distinct(col(keyCol), 0.02).as("n_sketch"))
      .select(col(groupCol),
        col("n_exact"),
        (abs(col("n_sketch") - col("n_exact")) * lit(100L) <=
          lit(bandPct.toLong) * col("n_exact"))
          .cast("long").as("sketch_in_band"))
}
