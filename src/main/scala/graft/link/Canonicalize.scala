package graft.link

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Entity-linking / canonicalization stage (north rule; reference analog is
  * the coref post-pass, project/APIs/coref.py:32-119):
  *
  *   1. blocking on a normalized key (trigger/mention lemma) — with the
  *      crucial scale trick: pairwise similarity runs over DISTINCT surface
  *      forms, not over mentions. Mention counts grow with the corpus
  *      (10^12 files), but distinct surface forms per block grow with the
  *      vocabulary, so the O(k²) pairwise check is bounded regardless of
  *      corpus size. The skewed part — assigning every mention to its
  *      cluster — is a join against the (small) form→canonical map, done
  *      as a broadcast join (or salted join when the map outgrows the
  *      broadcast threshold, see SkewJoin).
  *   2. pairwise similarity: token-set containment between forms sharing a
  *      block (coref.py's exact-span match generalized);
  *   3. connected components: containment edges exist only inside a kept
  *      (repo, block), so every component lies in one block. One keyed
  *      pass groups each block's forms and solves it on its executor with
  *      a union-find — no iteration, no driver-side solve;
  *   4. canonical form per component = longest text, ties to the
  *      lexicographically smallest (the A6 argmin analog, coref.py:38-52).
  * Blocking (step 1) runs in Catalyst; steps 2-4 run per block.
  */
object Canonicalize {

  /** Blocking key: lemma of the last token, lowercased + suffix-stripped.
    * Pure Catalyst expression chain (no UDF): possessive strip + plural /
    * verbal suffix rules of Text.normLemma. */
  def blockKey(text: Column): Column = {
    val last = lower(element_at(split(text, " "), -1))
    val noPoss = regexp_replace(last, "'s$", "")
    // ies->y (len>4), ing-> (len>4), ed-> (len>3), es-> (len>3), s-> (len>3, not ss)
    when(length(noPoss) > 4 && noPoss.endsWith("ies"),
      concat(expr_substr(noPoss, 3), lit("y")))
      .when(length(noPoss) > 4 && noPoss.endsWith("ing"), expr_substr(noPoss, 3))
      .when(length(noPoss) > 3 && noPoss.endsWith("ed"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("es"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("s") && !noPoss.endsWith("ss"),
        expr_substr(noPoss, 1))
      .otherwise(noPoss)
  }

  /** substring(col, 1, length-n): drop the last n chars. */
  private def expr_substr(c: Column, dropRight: Int): Column =
    c.substr(lit(1), length(c) - lit(dropRight))

  /** Union-find over `0 until n` with path compression — the component
    * solve of [[solveBlock]]. */
  private[graft] final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Int, b: Int): Unit = parent(find(a)) = find(b)
  }

  /** Canonical-form map over mention texts: (repo, text) -> canonical,
    * one row per distinct (repo, text), and that row count. `mentions`
    * needs columns (repo, text).
    *
    * One grouped pass: [[refineBlocks]] keys every form to its
    * (repo, block, kept), each kept block's forms are collected into one
    * group (the blocking window already partitions on (repo, block), so
    * the grouping adds no shuffle), and [[solveBlock]] solves the group on
    * its executor. A form of a block over the cap is a group of its own,
    * so a hot block is never collected into one row. The finished map
    * comes back as a local relation when it has at most
    * `spark.graft.maxBroadcastRows` rows — [[rewrite]]'s broadcast would
    * collect it anyway — and otherwise persisted and counted, for the
    * caller to unpersist. The count lets the caller resolve [[rewrite]]'s
    * gate without a job of its own. */
  def canonicalFormsCounted(spark: SparkSession,
      mentions: DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val maxBlock = spark.conf.get("spark.graft.maxBlockForms", "1000").toInt
    val maxRows = SkewJoin.maxBroadcastRows(spark)
    val map = refineBlocks(mentions, maxBlock)
      .groupBy(col("repo"), col("block"), col("kept"), when(!col("kept"), col("text")))
      .agg(collect_list("text"))
      .as[(String, String, Boolean, String, Seq[String])]
      .flatMap { case (repo, _, kept, _, texts) => solveBlock(repo, texts, kept) }
      .toDF("repo", "text", "canonical")
    val head = map.take(math.min(maxRows, Int.MaxValue - 1L).toInt + 1)
    if (head.length <= maxRows)
      (spark.createDataFrame(head.toSeq.asJava, map.schema), head.length.toLong)
    else {
      val cached = map.persist()
      (cached, cached.count())
    }
  }

  /** The map rows of one group. In a kept block: token-set containment
    * between every pair of forms (as many shared distinct tokens as the
    * shorter form has tokens), union-find components, and per component
    * the longest text by code points, ties to the smallest in UTF-8 binary
    * order. A form of a block over the cap maps to itself. */
  private def solveBlock(repo: String, forms: Seq[String],
      kept: Boolean): Seq[(String, String, String)] =
    if (!kept) forms.map(t => (repo, t, t))
    else {
      val texts = forms.toIndexedSeq
      val tokens = texts.map(_.split(" ", -1))
      val sets = tokens.map(_.toSet)
      val uf = new UnionFind(texts.length)
      for (a <- texts.indices; b <- a + 1 until texts.length) {
        val (small, big) =
          if (sets(a).size <= sets(b).size) (sets(a), sets(b)) else (sets(b), sets(a))
        if (small.count(big) == math.min(tokens(a).length, tokens(b).length))
          uf.union(a, b)
      }
      val utf8 = texts.map(UTF8String.fromString)
      texts.indices.groupBy(uf.find).values.toSeq.flatMap { members =>
        val best = texts(members.minBy(utf8)(CanonicalOrder))
        members.map(i => (repo, texts(i), best))
      }
    }

  /** Longest by code points first, then smallest in UTF-8 binary order. */
  private val CanonicalOrder: Ordering[UTF8String] =
    Ordering.by[UTF8String, Int](u => -u.numChars)
      .orElse(Ordering.fromLessThan(_.compareTo(_) < 0))

  /** Block refinement behind [[canonicalFormsCounted]]' quadratic cap: distinct
    * (repo, text) forms keyed by `blockKey`; a block holding more than
    * `maxBlock` distinct forms (a hot lemma — every mention ending in
    * "said", a common surname) is split on a secondary key (the lowercased
    * first token); a sub-block STILL over the cap is marked `kept = false`
    * and falls out of the pairwise check entirely. Blocks within the cap
    * keep their original key, so normal-corpus output is unchanged.
    * Returns (repo, text, block, kept). */
  private[graft] def refineBlocks(mentions: DataFrame,
      maxBlock: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = mentions.select("repo", "text").distinct()
      .withColumn("block", blockKey(col("text")))
    // WINDOW counts, not size-table self-joins: a join would evaluate the
    // (uncached) mention subtree once per join side -- and since the small
    // size table becomes a broadcast build side, each broadcast THREAD
    // recomputes the full upstream tagging DAG (measured: 4.3x pipeline
    // wall at local[2] before this rewrite). Two window shuffles over the
    // vocabulary-bounded distinct forms keep it one linear pass; the
    // per-partition work is a count, linear even in a hot block.
    val bsz = count(lit(1)).over(Window.partitionBy("repo", "block"))
    val refined = base
      .withColumn("block", when(bsz > maxBlock,
          concat(col("block"), lit("\u0001"),
            lower(element_at(split(col("text"), " "), 1))))
        .otherwise(col("block")))
    val bsz2 = count(lit(1)).over(Window.partitionBy("repo", "block"))
    refined.withColumn("kept", bsz2 <= maxBlock)
  }

  /** Audit view of [[canonicalFormsCounted]]' cap (the `maxBucket` /
    * `maxShingleDf` pattern — no silent truncation): one row per
    * (repo, block) whose refined sub-block still exceeds `maxBlockForms`,
    * with its distinct-form count. Forms in these blocks stay
    * identity-canonical in the emitted map. */
  def droppedBlocks(spark: SparkSession, mentions: DataFrame,
      maxBlockForms: Int = 1000): DataFrame =
    refineBlocks(mentions, maxBlockForms)
      .filter(!col("kept"))
      .groupBy("repo", "block").agg(count(lit(1)).as("nForms"))

  /** Rewrite mention texts to canonical forms (J5 analog,
    * coref.py:80-119). The map side is distinct surface forms — usually
    * small — but NOT vocabulary-bounded when arguments contain names, so
    * the join is gated: broadcast below `maxBroadcastRows`, salted
    * shuffle join (hot forms spread over 16 reducers) above. Pass
    * [[canonicalFormsCounted]]' map and count: the map is already local
    * or persisted, and the count resolves the gate without a job. */
  def rewrite(mentions: DataFrame, formMap: DataFrame,
      maxBroadcastRows: Long = 1000000L,
      formMapRows: Long = Long.MaxValue): DataFrame =
    SkewJoin.gatedJoin(mentions, formMap, Seq("repo", "text"),
      saltSource = mentions.columns.toSeq, joinType = "left",
      maxBroadcastRows = maxBroadcastRows,
      // a caller that already knows the map's cardinality (canonical-
      // FormsCounted) resolves the gate without the count() job
      smallUpperBound = formMapRows)
      .withColumn("canonical", coalesce(col("canonical"), col("text")))
}
